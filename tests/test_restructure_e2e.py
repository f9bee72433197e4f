"""End-to-end restructure test, modeled on the reference's integration golden
(RestructureS3IntegrationTest.kt:105-182): fixture topic tree in, exact output
file tree + flattened CSV with headers + schema sidecar out, incremental rerun
is a no-op, appends for new files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)


SERVER_STATUS_SCHEMA = (
    "key struct<projectId: string, userId: string, sourceId: string>, "
    "value struct<time: double, serverStatus: string, ipAddress: string>"
)


def _write_fixture(
    spark, input_dir: str, topic: str, rows, part: int, off_from: int, off_to: int, schema=None
):
    import glob as _glob
    import shutil as _shutil

    path = os.path.join(input_dir, topic, f"partition={part}")
    os.makedirs(path, exist_ok=True)
    df = spark.createDataFrame(rows, schema=schema)
    tmp = os.path.join(input_dir, "+tmp", f"{topic}-{part}-{off_from}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part_file = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    fname = os.path.join(path, f"{topic}+{part}+{off_from}+{off_to}.parquet")
    _shutil.move(part_file, fname)
    _shutil.rmtree(tmp)
    return fname


ROWS_P0 = [
    Row(
        key=Row(projectId="STAGING_PROJECT", userId="user/1!", sourceId="s1"),
        value=Row(time=1580219820.03, serverStatus="CONNECTED", ipAddress="10.0.0.1"),
    ),
    Row(
        key=Row(projectId="STAGING_PROJECT", userId="user/1!", sourceId="s1"),
        value=Row(time=1580223420.0, serverStatus="DISCONNECTED", ipAddress=None),
    ),
]
ROWS_P1 = [
    Row(
        key=Row(projectId=None, userId="u2", sourceId="s2"),
        value=Row(time=None, serverStatus="CONNECTED", ipAddress="10.0.0.2"),
    ),
]


@pytest.fixture
def pipeline_dirs(tmp_path, spark):
    input_dir = str(tmp_path / "input")
    output_dir = str(tmp_path / "output")
    _write_fixture(
        spark, input_dir, "application_server_status", ROWS_P0, 0, 0, 1, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "application_server_status", ROWS_P1, 1, 0, 0, SERVER_STATUS_SCHEMA
    )
    return input_dir, output_dir


def test_restructure_end_to_end(spark, pipeline_dirs):
    input_dir, output_dir = pipeline_dirs
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    assert plan.topics() == ["application_server_status"]
    finals = plan.run()["application_server_status"]

    rel = sorted(os.path.relpath(f, output_dir) for f in finals)
    # 1580219820.03 -> 2020-01-28T13:17Z bin 20200128_1300
    # 1580223420.0  -> 2020-01-28T14:17Z bin 20200128_1400
    assert rel == [
        "STAGING_PROJECT/user1/application_server_status/20200128_1300.csv",
        "STAGING_PROJECT/user1/application_server_status/20200128_1400.csv",
        "unknown-project/u2/application_server_status/unknown-time.csv",
    ]
    first = open(finals[0]).read().splitlines()
    assert first[0] == "key.projectId,key.userId,key.sourceId,value.time,value.serverStatus,value.ipAddress"
    assert first[1].startswith("STAGING_PROJECT,user/1!,s1,1.58021982003") and first[1].endswith(
        "CONNECTED,10.0.0.1"
    )
    # null ip -> empty cell; sanitized path but raw data
    unknown = open(finals[2]).read().splitlines()
    assert unknown[1] == ",u2,s2,,CONNECTED,10.0.0.2"
    # schema sidecar
    sidecar = os.path.join(
        output_dir, "STAGING_PROJECT", "user1", "application_server_status",
        "schema-application_server_status.json",
    )
    assert os.path.exists(sidecar)
    assert '"name": "application_server_status"' in open(sidecar).read()


def test_incremental_rerun_and_append(spark, pipeline_dirs):
    input_dir, output_dir = pipeline_dirs
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    plan.run()
    # rerun: everything committed -> no work (P4/J1 + T2)
    assert plan.list_candidate_files("application_server_status") == []
    assert plan.run() == {"application_server_status": []}

    # new file arrives for an existing bin -> rows append to the same target
    target = os.path.join(
        output_dir, "STAGING_PROJECT", "user1", "application_server_status", "20200128_1300.csv"
    )
    before = len(open(target).read().splitlines())
    _write_fixture(
        spark, input_dir, "application_server_status",
        [Row(key=Row(projectId="STAGING_PROJECT", userId="user/1!", sourceId="s1"),
             value=Row(time=1580219821.0, serverStatus="CONNECTED", ipAddress="10.9.9.9"))],
        0, 2, 2, SERVER_STATUS_SCHEMA,
    )
    plan2 = RestructurePlan(spark, cfg)
    plan2.run()
    after = open(target).read().splitlines()
    assert len(after) == before + 1
    assert after[-1].endswith("CONNECTED,10.9.9.9")
    assert sum(1 for line in after if line.startswith("key.projectId")) == 1


def test_dedup_keep_last_in_pipeline(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    rows = [
        Row(key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=3600.0 + i, status=s))
        for i, s in enumerate(["A", "B", "A", "B"])
    ]
    # duplicate of row 1 (same time+status) arrives later
    rows.append(Row(key=Row(projectId="p", userId="u", sourceId="s"),
                    value=Row(time=3601.0, status="B")))
    _write_fixture(spark, input_dir, "t", rows, 0, 0, 4)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, dedup=DedupConfig(enable=True)
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    lines = open(finals[0]).read().splitlines()
    # 5 rows, one exact dup removed (keep-last)
    assert len(lines) == 1 + 4
    assert lines[1:] == [
        "p,u,s,3600.0,A",
        "p,u,s,3602.0,A",
        "p,u,s,3603.0,B",
        "p,u,s,3601.0,B",
    ]


def test_schema_evolution_attempt_suffix(spark, tmp_path):
    """§1.3: a second source schema within a topic lands in `<timebin>_1.csv`
    (RestructureWorker.kt:168-183 retry-with-attempt, at file granularity)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, status="A"))],
        0, 0, 0,
    )
    evolved = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<time: double, status: string, battery: double>"
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3601.0, status="B", battery=0.5))],
        0, 1, 1, evolved,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["t"]
    names = [os.path.basename(f) for f in finals]
    assert names == ["19700101_0100.csv", "19700101_0100_1.csv"]
    base = open(finals[0]).read().splitlines()
    ev = open(finals[1]).read().splitlines()
    assert base[0] == "key.projectId,key.userId,key.sourceId,value.time,value.status"
    assert ev[0].endswith("value.battery")

    # append run: a third file with the evolved schema reuses suffix _1
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3602.0, status="C", battery=0.7))],
        0, 2, 2, evolved,
    )
    RestructurePlan(spark, cfg).run()
    ev2 = open(finals[1]).read().splitlines()
    assert len(ev2) == 3 and ev2[-1].endswith("0.7")


def test_all_types_pipeline_golden(spark, tmp_path):
    """All-types end-to-end (the reference's full.avsc/full.json fixture,
    CsvAvroConverterTest.kt): map keys and array indices become data-dependent
    columns; bytes render base64-unpadded; booleans lowercase; floats/doubles
    Java toString."""
    from pyspark.sql import Row

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    schema = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<time: double, s: string, b: binary, f: float, i: int, "
        "flag: boolean, m: map<string,int>, arr: array<string>>"
    )
    rows = [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(
                time=3600.0, s="hello, world", b=bytearray(b"\xff\x01"),
                f=0.1213231, i=7, flag=True,
                m={"beta": 2, "alpha": 1}, arr=["x", "y"],
            ),
        ),
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(
                time=3601.0, s=None, b=None, f=None, i=None, flag=False,
                m={"alpha": 9}, arr=["z"],
            ),
        ),
    ]
    _write_fixture(spark, input_dir, "full", rows, 0, 0, 1, schema)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["full"]
    lines = open(finals[0]).read().splitlines()
    assert lines[0] == (
        "key.projectId,key.userId,key.sourceId,value.time,value.s,value.b,"
        "value.f,value.i,value.flag,value.m.alpha,value.m.beta,"
        "value.arr.0,value.arr.1"
    )
    # quoted comma cell, unpadded base64 of ff01, float via Float.toString
    assert lines[1] == 'p,u,s,3600.0,"hello, world",/wE,0.1213231,7,true,1,2,x,y'
    # nulls -> empty cells; absent map key / short array -> empty
    assert lines[2] == "p,u,s,3601.0,,,,,false,9,,z,"


def test_multi_topic_run_with_exclusion(spark, tmp_path):
    """Two topics in one run (the reference integration scenario) plus P6
    topic exclusion."""
    from radar_output_restructure_spark.plans.restructure import TopicConfig

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    row = [Row(key=Row(projectId="p", userId="u", sourceId="s"),
               value=Row(time=3600.0, serverStatus="OK", ipAddress=None))]
    _write_fixture(spark, input_dir, "alpha", row, 0, 0, 0, SERVER_STATUS_SCHEMA)
    _write_fixture(spark, input_dir, "beta", row, 0, 0, 0, SERVER_STATUS_SCHEMA)
    _write_fixture(spark, input_dir, "skipped", row, 0, 0, 0, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        topics={"skipped": TopicConfig(exclude=True)},
    )
    plan = RestructurePlan(spark, cfg)
    assert plan.topics() == ["alpha", "beta"]
    result = plan.run()
    assert sorted(result) == ["alpha", "beta"]
    for topic in ("alpha", "beta"):
        assert os.path.exists(
            os.path.join(output_dir, "p", "u", topic, "19700101_0100.csv")
        )
    assert not os.path.exists(os.path.join(output_dir, "p", "u", "skipped"))


def test_cross_file_offset_order(spark, tmp_path):
    """Rows from several source files landing in ONE output bin must appear in
    Kafka offset order, not scan-split order. The file source bin-packs splits
    by size DESCENDING, so a large high-offset file would otherwise precede a
    small low-offset one (reference processes files in offset order)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    t0 = 1580219820.0
    key = Row(projectId="p", userId="u", sourceId="s")
    # low offsets: ONE row (small file); high offsets: 200 rows (big file)
    low = [Row(key=key, value=Row(time=t0, serverStatus="LOW_0", ipAddress=None))]
    high = [
        Row(key=key, value=Row(time=t0 + 1 + i * 0.001, serverStatus=f"HIGH_{i}",
                               ipAddress="x" * 50))
        for i in range(200)
    ]
    _write_fixture(spark, input_dir, "t", low, 0, 0, 0, SERVER_STATUS_SCHEMA)
    _write_fixture(spark, input_dir, "t", high, 0, 1, 200, SERVER_STATUS_SCHEMA)
    plan = RestructurePlan(
        spark, RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    )
    finals = plan.run()["t"]
    assert len(finals) == 1
    with open(finals[0]) as fh:
        statuses = [line.split(",")[4] for line in fh.read().splitlines()[1:]]
    assert statuses[0] == "LOW_0", "low-offset file's row must come first"
    assert statuses[1:] == [f"HIGH_{i}" for i in range(200)]


def test_crash_between_groups_no_duplicates(spark, tmp_path, monkeypatch):
    """Manifest commits PER fingerprint group: a crash after group 1's write
    but before group 2's must not re-append group 1's rows on rerun (the
    reference commits accounting per file batch, worker loop)."""
    import radar_output_restructure_spark.plans.restructure as R

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, status="A"))],
        0, 0, 0,
    )
    evolved = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<time: double, status: string, battery: double>"
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3601.0, status="B", battery=0.5))],
        0, 1, 1, evolved,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)

    real = R.write_output_tree_direct
    calls = {"n": 0}

    def crash_on_second(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash before group 2")
        return real(*args, **kwargs)

    monkeypatch.setattr(R, "write_output_tree_direct", crash_on_second)
    # run() isolates per-topic failures (reference log-and-continue): the
    # crash is logged, stashed on last_errors, and the topic stays
    # partially committed — group 1 committed, group 2 uncommitted
    crashed = RestructurePlan(spark, cfg)
    assert crashed.run() == {"t": []}
    assert isinstance(crashed.last_errors["t"], RuntimeError)

    monkeypatch.setattr(R, "write_output_tree_direct", real)
    finals = RestructurePlan(spark, cfg).run()["t"]
    # rerun wrote only the crashed group; group 1's file has exactly its 1 row
    assert [os.path.basename(f) for f in finals] == ["19700101_0100_1.csv"]
    base = os.path.join(output_dir, "p", "u", "t", "19700101_0100.csv")
    assert len(open(base).read().splitlines()) == 2  # header + 1 row, no dup


def test_schema_fingerprint_cache_no_rereads(spark, tmp_path):
    """A second plan over the same files (cleaner verification / crash rerun)
    reads zero parquet footers: fingerprints come from the (path, mtime)
    cache persisted next to the manifest."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, serverStatus="A", ipAddress=None))],
        0, 0, 0, SERVER_STATUS_SCHEMA,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan1 = RestructurePlan(spark, cfg)
    files = plan1.list_candidate_files("t")
    plan1._fingerprint_groups("t", files)

    plan2 = RestructurePlan(spark, cfg)
    calls = []
    plan2._schema_canon = lambda path: calls.append(path) or "x"
    groups = plan2._fingerprint_groups("t", files)
    assert calls == [], "cached fingerprints must not re-read file metadata"
    assert len(groups) == 1 and groups[0][0] == 0


def test_subset_schema_writes_into_same_file(spark, tmp_path):
    """Reference subset-write rule (CsvAvroConverterTest.kt subSchema /
    differentOrder) at file granularity: a source file whose schema is an
    order-preserving SUBSET of an earlier attempt's schema appends into the
    SAME output file with empty cells; same names in a different order force
    a new attempt suffix."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    full = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<time: double, status: string, battery: double>"
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, status="A", battery=0.9))],
        0, 0, 0, full,
    )
    # subset: value.battery missing entirely
    subset = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<time: double, status: string>"
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3601.0, status="B"))],
        0, 1, 1, subset,
    )
    # same field names, different order -> NOT a subset -> new attempt
    reordered = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<status: string, time: double, battery: double>"
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(status="C", time=3602.0, battery=0.1))],
        0, 2, 2, reordered,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["t"]
    names = sorted(os.path.basename(f) for f in finals)
    assert names == ["19700101_0100.csv", "19700101_0100_1.csv"]
    base = open(finals[0]).read().splitlines()
    header = "key.projectId,key.userId,key.sourceId,value.time,value.status,value.battery"
    assert base[0] == header
    rows = sorted(base[1:])
    # subset row null-fills battery with an empty cell, full row keeps 0.9
    assert rows == ["p,u,s,3600.0,A,0.9", "p,u,s,3601.0,B,"]
    reord = open(finals[1]).read().splitlines()
    assert reord[0].endswith("value.status,value.time,value.battery")
    assert reord[1] == "p,u,s,C,3602.0,0.1"


def test_multi_topic_parallel_run(spark, tmp_path):
    """num_threads > 1 processes topics concurrently with correct results and
    a consistent shared manifest (rerun is a no-op for every topic)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    for i, topic in enumerate(["t_alpha", "t_beta", "t_gamma", "t_delta"]):
        _write_fixture(
            spark, input_dir, topic,
            [Row(key=Row(projectId="p", userId=f"u{i}", sourceId="s"),
                 value=Row(time=3600.0 + j, serverStatus=f"S{j}", ipAddress=None))
             for j in range(3)],
            0, 0, 2, SERVER_STATUS_SCHEMA,
        )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, num_threads=4
    )
    finals = RestructurePlan(spark, cfg).run()
    assert sorted(finals) == ["t_alpha", "t_beta", "t_delta", "t_gamma"]
    for topic, paths in finals.items():
        assert len(paths) == 1
        assert len(open(paths[0]).read().splitlines()) == 4  # header + 3
    # shared manifest consistent: nothing left to process
    assert RestructurePlan(spark, cfg).run() == {
        t: [] for t in ["t_alpha", "t_beta", "t_delta", "t_gamma"]
    }


def test_pipeline_with_hadoop_scheme_uris(spark, tmp_path):
    """input/output as file:// URIs route listing, fingerprints, ledger, and
    writes through the Hadoop FileSystem backends — the exact code path an
    s3a:// or abfs:// deployment uses (only the scheme differs)."""
    input_dir = "file://" + str(tmp_path / "in")
    output_dir = "file://" + str(tmp_path / "out")
    _write_fixture(
        spark, str(tmp_path / "in"), "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0 + i, serverStatus=f"S{i}", ipAddress=None))
         for i in range(4)],
        0, 0, 3, SERVER_STATUS_SCHEMA,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    assert isinstance(plan.source_storage, HadoopTargetStorage)
    assert isinstance(plan.target_storage, HadoopTargetStorage)
    assert plan.topics() == ["t"]
    finals = plan.run()["t"]
    assert len(finals) == 1
    local = str(tmp_path / "out" / "p" / "u" / "t" / "19700101_0100.csv")
    assert os.path.exists(local)
    lines = open(local).read().splitlines()
    assert lines[0].startswith("key.projectId") and len(lines) == 5
    sidecar = str(tmp_path / "out" / "p" / "u" / "t" / "schema-t.json")
    assert os.path.exists(sidecar)
    # ledger lives behind the same scheme; rerun is a no-op
    assert RestructurePlan(spark, cfg).run() == {"t": []}
    # a plain-path run over the same input writes the same tree, byte for
    # byte (the ledger under offsets/ records paths and times, not output)
    plain = RestructureConfig(
        input_dir=str(tmp_path / "in"), output_dir=str(tmp_path / "plain")
    )
    RestructurePlan(spark, plain).run()

    def tree(root):
        return {
            os.path.relpath(os.path.join(d, f), root): open(
                os.path.join(d, f), "rb"
            ).read()
            for d, _dirs, files in os.walk(root)
            for f in files
            if not f.startswith(".")  # Hadoop's local-FS .crc sidecars
            and os.path.relpath(d, root).split(os.sep)[0] != "offsets"
        }

    assert tree(str(tmp_path / "out")) == tree(str(tmp_path / "plain"))


def test_corrupt_source_file_skipped_and_retried(spark, tmp_path):
    """An unreadable source file (truncated/garbage) is logged and skipped —
    good files process, the bad one stays uncommitted so a later run retries
    it once repaired (reference per-file error handling,
    RestructureWorker.kt:105-111)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    good = _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, serverStatus="A", ipAddress=None))],
        0, 0, 0, SERVER_STATUS_SCHEMA,
    )
    bad = os.path.join(os.path.dirname(good), "t+0+1+1.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"this is not parquet at all" * 10)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    finals = plan.run()["t"]
    assert len(finals) == 1  # good file's output
    assert len(open(finals[0]).read().splitlines()) == 2

    # the corrupt file is still a candidate (uncommitted); repair it -> next
    # run processes it and appends
    plan2 = RestructurePlan(spark, cfg)
    assert [f.path for f in plan2.list_candidate_files("t")] == [bad]
    os.remove(bad)
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3601.0, serverStatus="B", ipAddress=None))],
        0, 1, 1, SERVER_STATUS_SCHEMA,
    )
    RestructurePlan(spark, cfg).run()
    assert len(open(finals[0]).read().splitlines()) == 3
