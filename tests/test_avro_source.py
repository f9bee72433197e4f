"""Avro source path tests: pure-Python container codec round-trip, the
distributed binaryFile+mapInPandas reader, and the full restructure pipeline
with source_format="avro" (the reference's native input format,
util/GenericRecordReader.kt:11-43; fixture layout per
RestructureS3IntegrationTest.kt:67-221)."""

from __future__ import annotations

import datetime
import os

import pytest

from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.sources import avro_io
from radar_output_restructure_spark.sources.kafka_tree import read_topic_tree
from tests.test_functions import _jobs_in

STATUS_SCHEMA = {
    "type": "record",
    "name": "application_server_status",
    "fields": [
        {"name": "key", "type": {"type": "record", "name": "k", "fields": [
            {"name": "projectId", "type": ["null", "string"]},
            {"name": "userId", "type": "string"},
            {"name": "sourceId", "type": "string"},
        ]}},
        {"name": "value", "type": {"type": "record", "name": "v", "fields": [
            {"name": "time", "type": "double"},
            {"name": "serverStatus", "type": ["null", "string"]},
            {"name": "ipAddress", "type": ["null", "string"]},
        ]}},
    ],
}


def _status_rec(project, user, t, status, ip=None):
    return {
        "key": {"projectId": project, "userId": user, "sourceId": "s1"},
        "value": {"time": t, "serverStatus": status, "ipAddress": ip},
    }


def _write_avro_fixture(
    input_dir, topic, records, part, off_from, off_to, schema=STATUS_SCHEMA,
    codec="deflate",
):
    d = os.path.join(input_dir, topic, f"partition={part}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{topic}+{part}+{off_from}+{off_to}.avro")
    return avro_io.write_container(path, schema, records, codec=codec)


def test_container_round_trip_edge_values(tmp_path):
    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "by", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B"]}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        ],
    }
    recs = [
        {"l": -(2**62), "i": -1, "d": float("inf"), "f": 0.5, "b": True,
         "s": "héllo ☃", "by": bytes(range(256)),
         "arr": [0, -1, 2**40], "m": {"k1": "v1", "k2": ""}, "e": "B",
         "ts": datetime.datetime(
             2024, 6, 1, 12, 0, 0, 123456, tzinfo=datetime.timezone.utc
         ),
         "day": datetime.date(2024, 6, 1)},
        {"l": 2**62, "i": 2**31 - 1, "d": -0.0, "f": -2.5, "b": False,
         "s": None, "by": b"", "arr": [], "m": {}, "e": "A",
         "ts": datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc),
         "day": datetime.date(1969, 12, 25)},
    ] * 7
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        avro_io.write_container(p, schema, recs, codec=codec, sync_interval=5)
        s2, out = avro_io.read_container(p)
        assert s2 == schema
        assert out == recs


def test_read_topic_tree_avro_matches_metadata(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    _write_avro_fixture(
        input_dir, "status",
        [_status_rec("p1", "u1", 1580219820.5, "CONNECTED", "10.0.0.1"),
         _status_rec(None, "u2", 1580219821.0, None)],
        0, 100, 101,
    )
    df = read_topic_tree(spark, input_dir, topic="status", file_format="avro")
    rows = sorted(df.collect(), key=lambda r: r.value.time)
    assert [r.topic for r in rows] == ["status", "status"]
    assert rows[0].kafka_partition == 0
    assert rows[0].offset_from == 100 and rows[0].offset_to == 101
    assert rows[0].key.projectId == "p1" and rows[1].key.projectId is None
    assert rows[0].value.serverStatus == "CONNECTED"
    assert rows[1].value.serverStatus is None
    assert rows[0].source_file.endswith("status+0+100+101.avro")
    # same column surface as the parquet path
    assert {"source_file", "file_modified", "topic", "kafka_partition",
            "offset_from", "offset_to"} <= set(df.columns)


def test_mixed_schema_topic_fails_loudly(spark, tmp_path):
    """A raw read_topic_tree over a topic whose files carry different writer
    schemas must raise, not silently decode against one probe file's schema
    (dropping extra fields / null-filling missing ones)."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    input_dir = str(tmp_path / "in")
    _write_avro_fixture(
        input_dir, "status",
        [_status_rec("p1", "u1", 1.0, "CONNECTED")], 0, 0, 0,
    )
    drifted = {
        "type": "record", "name": "r2",
        "fields": [{"name": "extra", "type": "long"}],
    }
    _write_avro_fixture(
        input_dir, "status", [{"extra": 7}], 0, 1, 1, schema=drifted,
    )
    df = read_topic_tree(spark, input_dir, topic="status", file_format="avro")
    with pytest.raises(PythonException, match="differs from the probe"):
        df.collect()


def test_excluded_topic_never_decoded(spark, tmp_path):
    """exclude_topics must prune BEFORE the jar-less decode: an excluded
    topic may carry a different schema, and a post-scan row filter would
    already have crashed on the mixed-schema check (or worse, the probe
    file could come from the excluded topic)."""
    input_dir = str(tmp_path / "in")
    _write_avro_fixture(
        input_dir, "status",
        [_status_rec("p1", "u1", 1.0, "CONNECTED")], 0, 0, 0,
    )
    drifted = {
        "type": "record", "name": "r2",
        "fields": [{"name": "extra", "type": "long"}],
    }
    # 'aaa_drifted' sorts FIRST, so it would also be the probe file
    _write_avro_fixture(
        input_dir, "aaa_drifted", [{"extra": 7}], 0, 0, 0, schema=drifted,
    )
    df = read_topic_tree(
        spark, input_dir, file_format="avro", exclude_topics={"aaa_drifted"}
    )
    rows = df.collect()  # would raise 'differs from the probe' without prune
    assert [r.topic for r in rows] == ["status"]
    assert rows[0].key.projectId == "p1"


def test_restructure_pipeline_from_avro(spark, tmp_path):
    """Full e2e on real .avro input: exact-named CSVs, flattened headers,
    rerun no-op, schema-evolution attempt suffix via avro fingerprints."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_avro_fixture(
        input_dir, "status",
        [_status_rec("P1", "user1", 1580219820.0, "CONNECTED", "10.0.0.1"),
         _status_rec("P1", "user1", 1580223420.0, "DISCONNECTED")],
        0, 0, 1,
    )
    evolved = {
        "type": "record", "name": "application_server_status", "fields": [
            STATUS_SCHEMA["fields"][0],
            {"name": "value", "type": {"type": "record", "name": "v2", "fields": [
                {"name": "time", "type": "double"},
                {"name": "serverStatus", "type": ["null", "string"]},
                {"name": "ipAddress", "type": ["null", "string"]},
                {"name": "battery", "type": "double"},
            ]}},
        ],
    }
    _write_avro_fixture(
        input_dir, "status",
        [{"key": {"projectId": "P1", "userId": "user1", "sourceId": "s1"},
          "value": {"time": 1580219825.0, "serverStatus": "CONNECTED",
                    "ipAddress": None, "battery": 0.75}}],
        0, 2, 2, schema=evolved, codec="null",
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro"
    )
    plan = RestructurePlan(spark, cfg)
    assert plan.topics() == ["status"]
    finals = plan.run()["status"]
    rel = sorted(os.path.relpath(f, output_dir) for f in finals)
    assert rel == [
        "P1/user1/status/20200128_1300.csv",
        "P1/user1/status/20200128_1300_1.csv",
        "P1/user1/status/20200128_1400.csv",
    ]
    base = open(finals[0]).read().splitlines()
    assert base[0] == (
        "key.projectId,key.userId,key.sourceId,"
        "value.time,value.serverStatus,value.ipAddress"
    )
    assert base[1] == "P1,user1,s1,1.58021982E9,CONNECTED,10.0.0.1"
    ev = open(finals[1]).read().splitlines()
    assert ev[0].endswith("value.battery") and ev[1].endswith("0.75")
    # rerun is a no-op (manifest prune works for avro listings too)
    assert RestructurePlan(spark, cfg).run() == {"status": []}


def test_fingerprint_header_prefix(tmp_path):
    """Schema fingerprinting reads only the container header, including when
    the file holds many records."""
    input_dir = str(tmp_path / "in")
    recs = [_status_rec("p", "u", 1.0 + i, "S") for i in range(5000)]
    p = _write_avro_fixture(input_dir, "status", recs, 0, 0, 4999)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=str(tmp_path / "out"),
        source_format="avro",
    )
    from radar_output_restructure_spark.sinks.storage import LocalTargetStorage

    plan = RestructurePlan.__new__(RestructurePlan)
    plan.config = cfg
    plan.source_storage = LocalTargetStorage()
    import json

    from pyspark.sql import types as T

    canon = T.StructType.fromJson(json.loads(plan._schema_canon(p)))
    assert canon.fieldNames() == ["key", "value"]
    assert canon["key"].dataType.fieldNames()[0] == "projectId"


def test_native_avro_detection(spark):
    from radar_output_restructure_spark.sources.kafka_tree import has_native_avro

    # this container has no spark-avro jar; on a real cluster this is True
    # and read_topic_tree uses the native DataSource instead
    assert has_native_avro(spark) in (True, False)


def test_avro_snappy_block_crc_is_checked(tmp_path):
    """A snappy block carries a CRC32 of its uncompressed bytes after the
    compressed ones: a block whose checksum does not match is refused, not
    decoded into silently wrong records."""
    path = str(tmp_path / "s.avro")
    records = [_status_rec("p", "u", 1.0 + i, "S") for i in range(5)]
    avro_io.write_container(path, STATUS_SCHEMA, records, codec="snappy")
    assert avro_io.read_container(path)[1] == records
    data = bytearray(open(path, "rb").read())
    data[-17] ^= 0xFF  # the last CRC byte, just before the sync marker
    with pytest.raises(ValueError, match="CRC32"):
        avro_io.read_container(bytes(data))


def test_empty_avro_container(spark, tmp_path):
    """A header-only container (flush with zero records) reads as zero rows
    without breaking the scan or the pipeline."""
    input_dir = str(tmp_path / "in")
    _write_avro_fixture(input_dir, "status", [], 0, 5, 5)
    _write_avro_fixture(
        input_dir, "status", [_status_rec("p", "u", 1.0, "S")], 0, 6, 6
    )
    df = read_topic_tree(spark, input_dir, topic="status", file_format="avro")
    rows = df.collect()
    assert len(rows) == 1 and rows[0].offset_from == 6


def test_native_avro_parity_with_python_codec(spark, tmp_path):
    """On a real cluster the spark-avro DataSource jar is the performance
    path (sources/kafka_tree.py prefers it via has_native_avro); this
    container has no jar, so the pure-Python codec is the only path pytest
    normally exercises. When the jar IS present, the two readers must agree
    row for row on the same container file — skip-marked off the capability
    probe so the assertion runs wherever the jar exists."""
    from radar_output_restructure_spark.sources.kafka_tree import (
        has_native_avro,
    )

    input_dir = str(tmp_path / "in")
    path = _write_avro_fixture(
        input_dir, "status",
        [_status_rec("p1", "u1", 1580219820.5, "CONNECTED", "10.0.0.1"),
         _status_rec(None, "u2", 1580219821.0, None),
         _status_rec("p2", "u3", 1580219822.25, "DISCONNECTED")],
        0, 0, 2,
    )
    if not has_native_avro(spark):
        pytest.skip(
            "spark-avro jar not on classpath (jar-less container); "
            "native/python parity runs on real clusters"
        )
    native = sorted(
        spark.read.format("avro").load(path).collect(),
        key=lambda r: r.value.time,
    )
    _schema, records = avro_io.read_container(path)
    records.sort(key=lambda r: r["value"]["time"])
    assert len(native) == len(records) == 3
    for nrow, rec in zip(native, records):
        assert nrow.asDict(recursive=True) == rec


DYNAMIC_SCHEMA = {
    "type": "record", "name": "sensor", "fields": [
        STATUS_SCHEMA["fields"][0],
        {"name": "value", "type": {"type": "record", "name": "sv", "fields": [
            {"name": "time", "type": "double"},
            {"name": "levels", "type": {"type": "array", "items": "long"}},
            {"name": "props", "type": {"type": "map", "values": "string"}},
        ]}},
    ],
}


def test_flatten_materialization_saves_one_job_per_pass(spark, tmp_path):
    """With map/array leaves, flatten stores its input in one job whose
    Observation yields the shapes, and the writer reads the stored rows:
    the restructure pass decodes the Avro files once. Before, a separate
    shape aggregate (two jobs under AQE) decoded them too. The Avro record
    type is read on the driver, not by a `first()` job: 3 jobs per
    restructure pass (the checkpoint, then the shuffle's map stage and
    result stage). verify_topic needs no flatten: it takes each record's
    target path and `value.time` straight off `RestructurePlan.route` and
    checks each target file inside the grouped pass over them (no
    target-path collect, listing job or anti-join): 2 jobs (the shuffle's
    map stage and result stage), 3 while it ran the flatten checkpoint."""
    from radar_output_restructure_spark.plans.cleaner import (
        CleanerConfig,
        SourceDataCleaner,
    )

    def rec(t, levels, props):
        return {"key": {"projectId": "p", "userId": "u", "sourceId": "s"},
                "value": {"time": t, "levels": levels, "props": props}}

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    old = _write_avro_fixture(
        input_dir, "t", [rec(3600.0, [1, 2], {"b": "x"}), rec(3601.0, [], {})],
        0, 0, 1, schema=DYNAMIC_SCHEMA,
    )
    _write_avro_fixture(
        input_dir, "t", [rec(7200.0, [3], {"a": "y"})], 0, 2, 2,
        schema=DYNAMIC_SCHEMA,
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro"
    )
    finals, n_run = _jobs_in(
        spark, "restructure-pass", RestructurePlan(spark, cfg).run
    )
    assert n_run == 3
    first = open(os.path.join(output_dir, "p/u/t/19700101_0100.csv")).read()
    assert first.splitlines() == [
        "key.projectId,key.userId,key.sourceId,value.time,"
        "value.levels.0,value.levels.1,value.props.a,value.props.b",
        "p,u,s,3600.0,1,2,,x",
        "p,u,s,3601.0,,,,",
    ]
    assert len(finals["t"]) == 2

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    files = cleaner.candidate_files("t")
    verdict, n_verify = _jobs_in(
        spark, "verify-pass", lambda: cleaner.verify_topic("t", files)
    )
    assert verdict == {old: True}
    assert n_verify == 2


def test_dedup_pass_shuffles_once(spark, tmp_path):
    """With dedup on, `transform` hash-partitions by the partition columns
    before the dedup window; the window key holds every partition column,
    so the window and the writer's repartition reuse that one shuffle. A
    restructure pass runs 3 jobs (the flatten checkpoint, then the
    shuffle's map stage and result stage), with the re-delivered record
    written once. The whole-record key holds `value.time`, so verify_topic
    checks every record straight off `RestructurePlan.route`, without the
    window or the checkpoint: 2 jobs (one shuffle by the partition
    columns, its map stage and result stage), 3 before."""
    from radar_output_restructure_spark.plans.cleaner import (
        CleanerConfig,
        SourceDataCleaner,
    )
    def rec(t, levels, props):
        return {"key": {"projectId": "p", "userId": "u", "sourceId": "s"},
                "value": {"time": t, "levels": levels, "props": props}}

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    old = _write_avro_fixture(
        input_dir, "t", [rec(3600.0, [1, 2], {"b": "x"}), rec(3601.0, [], {})],
        0, 0, 1, schema=DYNAMIC_SCHEMA,
    )
    _write_avro_fixture(
        input_dir, "t", [rec(3601.0, [], {}), rec(7200.0, [3], {"a": "y"})],
        0, 2, 3, schema=DYNAMIC_SCHEMA,
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        dedup=DedupConfig(enable=True),
    )
    finals, n_run = _jobs_in(
        spark, "dedup-restructure-pass", RestructurePlan(spark, cfg).run
    )
    assert n_run == 3
    first = open(os.path.join(output_dir, "p/u/t/19700101_0100.csv")).read()
    assert first.splitlines()[1:] == ["p,u,s,3600.0,1,2,,x", "p,u,s,3601.0,,,,"]
    assert len(finals["t"]) == 2

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    files = cleaner.candidate_files("t")
    verdict, n_verify = _jobs_in(
        spark, "dedup-verify-pass", lambda: cleaner.verify_topic("t", files)
    )
    assert verdict == {old: True}
    assert n_verify == 2


def test_avro_scan_builds_without_a_job(spark, tmp_path):
    """The jar-less reader takes its record type from the header of the
    first file it loads, read on the driver: building the scan runs no
    Spark job, for a `paths` list and for a glob alike."""
    input_dir = str(tmp_path / "in")
    paths = [
        _write_avro_fixture(
            input_dir, "status", [_status_rec("p", "u", 1.0 + i, "S")],
            0, i, i,
        )
        for i in range(2)
    ]
    for label, kwargs in (("paths", {"paths": paths}), ("glob", {})):
        df, n_jobs = _jobs_in(
            spark, f"avro-build-{label}",
            lambda kw=kwargs: read_topic_tree(
                spark, input_dir, topic="status", file_format="avro", **kw
            ),
        )
        assert n_jobs == 0, label
        assert sorted(r.offset_from for r in df.collect()) == [0, 1]


def test_avro_scan_of_no_files_raises(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    with pytest.raises(FileNotFoundError):
        read_topic_tree(spark, input_dir, file_format="avro", paths=[])


def test_avro_schema_larger_than_header_prefix(spark, tmp_path):
    """A writer schema larger than the 64 KB header read falls back to the
    whole file, for the fingerprint and for the scan's record type."""
    import json

    from pyspark.sql import types as T

    from radar_output_restructure_spark.sinks.storage import LocalTargetStorage

    big = dict(STATUS_SCHEMA, doc="x" * (80 * 1024))
    input_dir = str(tmp_path / "in")
    p = _write_avro_fixture(
        input_dir, "status", [_status_rec("p", "u", 1.0, "S")], 0, 0, 0,
        schema=big,
    )
    with open(p, "rb") as fh:
        assert avro_io.read_schema(fh) == big
    plan = RestructurePlan.__new__(RestructurePlan)
    plan.config = RestructureConfig(
        input_dir=input_dir, output_dir=str(tmp_path / "out"),
        source_format="avro",
    )
    plan.source_storage = LocalTargetStorage()
    canon = T.StructType.fromJson(json.loads(plan._schema_canon(p)))
    assert canon.fieldNames() == ["key", "value"]
    rows = read_topic_tree(
        spark, input_dir, file_format="avro", paths=[p]
    ).collect()
    assert [(r.key.userId, r.value.time) for r in rows] == [("u", 1.0)]


# Jar-less decode across files: schemas that differ only in non-structural
# attributes (doc/namespace/defaults) merge, structural drift fails loudly,
# nullable longs stay exact above 2^53 (no float64 inference), and
# exclude_topics prunes the native scan on the driver.
LONG_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "tag", "type": "string"},
    ],
}

# same structure, different non-structural metadata (doc + field default)
LONG_SCHEMA_DOCUMENTED = {
    "type": "record",
    "name": "r",
    "doc": "added by a later writer version",
    "fields": [
        {"name": "id", "type": ["null", "long"], "default": None},
        {"name": "tag", "type": "string", "doc": "a tag"},
    ],
}


def _write(input_dir, topic, part, off, schema, records):
    d = os.path.join(input_dir, topic, f"partition={part}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{topic}+{part}+{off}+{off}.avro")
    return avro_io.write_container(path, schema, records)


def test_python_avro_accepts_nonstructural_schema_drift(spark, tmp_path):
    input_dir = str(tmp_path)
    _write(input_dir, "t", 0, 0, LONG_SCHEMA, [{"id": 1, "tag": "a"}])
    _write(
        input_dir, "t", 0, 1, LONG_SCHEMA_DOCUMENTED, [{"id": 2, "tag": "b"}]
    )
    df = read_topic_tree(spark, input_dir, topic="t", file_format="avro")
    assert {r["id"] for r in df.select("id").collect()} == {1, 2}


def test_python_avro_rejects_structural_schema_drift(spark, tmp_path):
    input_dir = str(tmp_path)
    _write(input_dir, "t", 0, 0, LONG_SCHEMA, [{"id": 1, "tag": "a"}])
    drifted = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "other", "type": "int"}],
    }
    _write(input_dir, "t", 0, 1, drifted, [{"other": 5}])
    df = read_topic_tree(spark, input_dir, topic="t", file_format="avro")
    with pytest.raises(Exception, match="differs from the probe"):
        df.collect()


def test_python_avro_nullable_long_exact_above_2_53(spark, tmp_path):
    input_dir = str(tmp_path)
    big = 9007199254740993  # 2^53 + 1: float64 rounds it to ...992
    _write(
        input_dir, "t", 0, 0, LONG_SCHEMA,
        [{"id": None, "tag": "null-row"}, {"id": big, "tag": "big"}],
    )
    rows = {
        r["tag"]: r["id"]
        for r in read_topic_tree(
            spark, input_dir, topic="t", file_format="avro"
        ).collect()
    }
    assert rows["big"] == big, "nullable long corrupted via float64 inference"
    assert rows["null-row"] is None


def test_exclude_topics_prunes_native_scan(spark, tmp_path):
    import glob
    import shutil

    input_dir = str(tmp_path)
    good = spark.createDataFrame([(1, "a")], "id long, tag string")
    # drifted topic: same column name, INCOMPATIBLE type — a post-scan
    # filter still reads these files and fails (or null-fills)
    bad = spark.createDataFrame([(("x",), "b")], "id struct<s:string>, tag string")
    for topic, df in (("t_good", good), ("t_drifted", bad)):
        stage = os.path.join(input_dir, "+stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        d = os.path.join(input_dir, topic, "partition=0")
        os.makedirs(d)
        shutil.move(part, os.path.join(d, f"{topic}+0+0+0.parquet"))
        shutil.rmtree(stage)
    out = read_topic_tree(
        spark, input_dir, file_format="parquet", exclude_topics={"t_drifted"}
    )
    rows = out.select("id", "topic").collect()
    assert [(r["id"], r["topic"]) for r in rows] == [(1, "t_good")]
