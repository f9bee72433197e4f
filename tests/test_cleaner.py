"""Cleaner lifecycle test (SURVEY §2.9 / §3.2): age+offset candidate filter,
extraction verification (one time-set check per target file),
delete-or-revoke. Models
cleaner/SourceDataCleanerTest behavior + TimestampExtractionCheck.kt:23-106."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.plans.cleaner import CleanerConfig, SourceDataCleaner
from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.sinks.writers import output_extension
from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA, _write_fixture


def _rows(t0: float, n: int, status: str = "CONNECTED"):
    return [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=t0 + i, serverStatus=status, ipAddress=None),
        )
        for i in range(n)
    ]


def _hour_files(
    spark, input_dir: str, counts=(3, 2), status: str = "CONNECTED"
) -> list[str]:
    """Source files of topic `t`, the i-th holding `counts[i]` records in
    the (i+1):00 bin, with increasing offsets: the last holds the newest
    offset of its partition and is never a cleaner candidate."""
    paths, offset = [], 0
    for hour, n in enumerate(counts, start=1):
        paths.append(_write_fixture(
            spark, input_dir, "t", _rows(3600.0 * hour, n, status),
            0, offset, offset + n - 1, SERVER_STATUS_SCHEMA,
        ))
        offset += n
    return paths


def test_cleaner_deletes_extracted_keeps_max_offset(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0, f1 = _hour_files(spark, input_dir)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    # candidate = only f0: f1 holds the max offset of partition 0 (C1)
    cand = cleaner.candidate_files("t")
    assert [c.path for c in cand] == [f0]
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0) and os.path.exists(f1)


def test_cleaner_revokes_unextracted(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    finals = plan.run()["t"]

    # sabotage: remove f0's target file -> its records are no longer extracted
    target = [f for f in finals if f.endswith("19700101_0100.csv")][0]
    os.remove(target)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [] and result["revoked"] == [f0]
    assert os.path.exists(f0)
    # revocation makes the file a candidate for re-extraction (T7)
    assert [f.path for f in plan.list_candidate_files("t")] == [f0]
    plan2 = RestructurePlan(spark, cfg)
    plan2.run()
    assert os.path.exists(target)  # re-extracted


def test_cleaner_revokes_in_one_ledger_segment(spark, tmp_path):
    """A pass that revokes N unverified files appends ONE revoke segment
    to the ledger, not one per file."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    paths = _hour_files(spark, input_dir, counts=(1, 1, 1, 1))
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    for f in RestructurePlan(spark, cfg).run()["t"]:
        if not f.endswith("_0400.csv"):
            os.remove(f)  # the first three files are no longer extracted

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    before = len(cleaner.plan.manifest._segments())
    result = cleaner.run_topic("t")
    assert result["deleted"] == [] and result["revoked"] == paths[:3]
    assert len(cleaner.plan.manifest._segments()) == before + 1


def test_cleaner_age_gate(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _hour_files(spark, input_dir)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()
    # default 7-day age: nothing qualifies
    cleaner = SourceDataCleaner(spark, cfg)
    assert cleaner.candidate_files("t") == []


def test_cleaner_gzip_json_target_verification(spark, tmp_path):
    """gzip-compressed JSON-lines targets verify through the writer's
    codec; extracted sources delete, compression intact."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format="json", compression="gzip",
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert all(f.endswith(".json.gz") for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0)
    # targets untouched and still valid gzip JSON-lines
    import gzip as _gzip
    import json as _json

    rows = [
        _json.loads(line)
        for f in finals
        if os.path.exists(f)
        for line in _gzip.open(f, "rt").read().splitlines()
    ]
    assert len(rows) == 5 and all("value" in r for r in rows)


def test_cleaner_zip_csv_target_verification(spark, tmp_path):
    """zip-compressed CSV targets re-read through the writer's single-entry
    codec (reference cleaner/TimestampFileCache.kt:39-51 +
    compression/ZipCompression.kt:10-26): extracted sources delete instead
    of the old conservative no-op."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, compression="zip"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert all(f.endswith(".csv.zip") for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0)


def test_cleaner_zip_json_revokes_on_missing_target(spark, tmp_path):
    """zip verification is a real check, not a rubber stamp: a sabotaged
    (deleted) zip target revokes the source file instead of deleting it."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format="json", compression="zip",
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    target = [f for f in finals if f.endswith("19700101_0100.json.zip")][0]
    os.remove(target)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [] and result["revoked"] == [f0]
    assert os.path.exists(f0)


@pytest.mark.parametrize(
    "fmt,compression",
    [("csv", None), ("csv", "gzip"), ("json", None), ("json", "gzip"),
     ("parquet", None)],
    ids=["csv", "csv-gzip", "json", "json-gzip", "parquet"],
)
@pytest.mark.parametrize("root", ["path", "file-uri", "odd-name"])
def test_cleaner_deletes_extracted_for_every_target_form(
    spark, tmp_path, root, fmt, compression
):
    """The check reads each target path exactly as the expectation renders
    it, whatever the output dir looks like: a `file://` URI (the driver
    loop over Hadoop storage), or a name with a space, `%` and `+`. A path
    mismatch would revoke every extracted source, and each revoke
    re-extracts it on the next run. Parquet targets compare typed values.
    Then one target file goes missing: exactly its sources are revoked and
    the other candidate is still deleted."""
    input_dir = str(tmp_path / "in")
    out = str(tmp_path / ("out a%b+c" if root == "odd-name" else "out"))
    output_dir = "file://" + out if root == "file-uri" else out
    f0, f1 = _hour_files(spark, input_dir, (3, 2, 1))[:2]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format=fmt, compression=compression,
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    ext = output_extension(fmt, compression)
    assert len(finals) == 3 and all(f.endswith(ext) for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    files = cleaner.candidate_files("t")
    assert cleaner.verify_topic("t", files) == {f0: True, f1: True}

    # f0's records all sit in the 01:00 file, f1's in the 02:00 file
    (hour_01,) = [f for f in finals if "19700101_0100" in f]
    os.remove(hour_01.removeprefix("file://"))
    assert cleaner.run_topic("t") == {"deleted": [f1], "revoked": [f0]}
    assert os.path.exists(f0) and not os.path.exists(f1)


def test_cleaner_parquet_revokes_on_missing_target(spark, tmp_path):
    """Parquet verification is a real check: a sabotaged (deleted) parquet
    target revokes the source file instead of deleting it."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="parquet"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    for f in finals:
        if "0100" in os.path.basename(f):
            os.remove(f)
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == []
    assert result["revoked"] == [f0]
    assert os.path.exists(f0)


def test_cleaner_csv_embedded_newline_roundtrip(spark, tmp_path):
    """RFC4180-quoted embedded newlines in CSV targets must survive the
    cleaner's read-back: a line-splitting reader would break the quoted
    record into garbage rows, miss the expectation match, and revoke the
    source -> duplicate re-extraction forever."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir, status="CONN\nECTED")[0]
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


def test_cleaner_never_deletes_schema_unreadable_file(spark, tmp_path):
    """A candidate whose schema cannot be read RIGHT NOW (lost fingerprint
    cache + transient storage error, or post-commit corruption) produces
    zero expectations; it must be revoked for a retry, never deleted as
    'extracted with nothing unmatched' (reference: extraction-check errors
    mean NOT extracted, TimestampExtractionCheck.kt)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    # simulate: fingerprint cache lost AND the schema read failing now
    cleaner.plan.schema_cache.get_many = lambda files, fn: {}
    result = cleaner.run_topic("t")
    assert result["deleted"] == []
    assert result["revoked"] == [f0]
    assert os.path.exists(f0)  # the data is still there for the retry


def test_cleaner_relative_output_dir(spark, tmp_path, monkeypatch):
    """Expectation paths are ABSOLUTE even when output_dir is relative: the
    check reads them in Python workers whose working directory is not the
    driver's, so a verbatim relative root would find no target -> revoke
    -> duplicate re-append."""
    monkeypatch.chdir(tmp_path)
    input_dir = str(tmp_path / "in")
    f0 = _hour_files(spark, input_dir)[0]
    cfg = RestructureConfig(input_dir=input_dir, output_dir="out_rel")
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


def test_cleaner_mixed_attempt_csv_verification(spark, tmp_path):
    """Schema-evolution attempts write targets with DIFFERENT headers
    (`bin.csv` vs `bin_1.csv` with an extra column). The cleaner's CSV
    read-back must parse each file against its OWN header — a single
    spark.read.csv over both binds the second file's columns positionally
    to the first header and reads the wrong field as value.time, flagging
    perfectly-extracted sources."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, status="A"))],
        0, 0, 0,
    )
    # evolved schema: battery precedes time so positional binding against
    # the attempt-0 header reads battery as value.time
    evolved = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<battery: double, time: double, status: string>"
    )
    f1 = _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(battery=0.5, time=3601.0, status="B"))],
        0, 1, 1, evolved,
    )
    # max-offset holder so both earlier files are candidates
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 1), 0, 2, 2, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert any(f.endswith("_1.csv") for f in finals)  # attempt happened

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert sorted(result["deleted"]) == sorted([f0, f1])
    assert result["revoked"] == []


def test_cleaner_candidates_stay_within_their_topic(spark, tmp_path):
    """A topic is the directory two levels above its files. With the input
    dir named `in` and a topic named `in`, every path contains `/in/`:
    topic `a`'s files must still not become `in`'s candidates (they would
    be verified under `in`'s config, bypass `a`'s exclude_from_delete and
    mix the two topics' newest-offset guards)."""
    from radar_output_restructure_spark.plans.restructure import TopicConfig

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    in_old = _write_fixture(
        spark, input_dir, "in", _rows(3600.0, 2), 0, 0, 1, SERVER_STATUS_SCHEMA
    )
    in_new = _write_fixture(
        spark, input_dir, "in", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    a_files = [
        _write_fixture(
            spark, input_dir, "a", _rows(3600.0, 1), 0, 0, 0, SERVER_STATUS_SCHEMA
        ),
        _write_fixture(
            spark, input_dir, "a", _rows(7200.0, 1), 0, 5, 5, SERVER_STATUS_SCHEMA
        ),
    ]
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        topics={"a": TopicConfig(exclude_from_delete=True)},
    )
    RestructurePlan(spark, cfg).run()

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    assert [f.path for f in cleaner.candidate_files("in")] == [in_old]
    assert cleaner.candidate_files("a") == []
    result = cleaner.run()
    assert result["in"] == {"deleted": [in_old], "revoked": []}
    assert result["a"] == {"deleted": [], "revoked": []}
    assert os.path.exists(in_new) and all(os.path.exists(f) for f in a_files)


def _job_descriptions(spark, group: str) -> list[str]:
    """The description of every Spark job in `group`, from the status
    store (a listing job sets its own: `Listing leaf files and ...`)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(job_id).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_cleaner_checks_each_target_once_without_listing(spark, tmp_path):
    """With more target files than Spark lists in a job of its own
    (spark.sql.sources.parallelPartitionDiscovery.threshold, 32), the check
    still runs no listing job: it asks the storage once per target file
    whether it exists and reads each at most once."""
    from radar_output_restructure_spark.sinks.storage import LocalTargetStorage

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    hours = 40
    f0 = _write_fixture(
        spark, input_dir, "t",
        [
            Row(key=Row(projectId="p", userId="u", sourceId="s"),
                value=Row(time=3600.0 * h, serverStatus="C", ipAddress=None))
            for h in range(1, hours + 1)
        ],
        0, 0, hours - 1, SERVER_STATUS_SCHEMA,
    )
    _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 1), 0, hours, hours,
        SERVER_STATUS_SCHEMA,
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert len(finals) == hours

    log = str(tmp_path / "storage.log")

    class LoggingStorage(LocalTargetStorage):
        def exists(self, path):
            with open(log, "a") as fh:
                fh.write(f"exists {path}\n")
            return super().exists(path)

        def read(self, path):
            with open(log, "a") as fh:
                fh.write(f"read {path}\n")
            return super().read(path)

    plan = RestructurePlan(spark, cfg, target_storage=LoggingStorage())
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0), plan=plan)
    files = cleaner.candidate_files("t")
    if os.path.exists(log):
        os.remove(log)
    sc = spark.sparkContext
    sc.setJobGroup("cleaner-verify", "cleaner-verify")
    try:
        verdict = cleaner.verify_topic("t", files)
    finally:
        sc.setJobGroup(None, None)
    assert verdict == {f0: True}
    assert not [
        d for d in _job_descriptions(spark, "cleaner-verify")
        if d.startswith("Listing leaf files")
    ]
    calls = [ln.split(" ", 1) for ln in open(log).read().splitlines()]
    targets = [(op, p) for op, p in calls if p.endswith(".csv")]
    assert sorted(p for op, p in targets if op == "exists") == sorted(finals)
    reads = [p for op, p in targets if op == "read"]
    assert len(reads) == len(set(reads)) and set(reads) <= set(finals)


def test_cleaner_delete_updates_index(spark, tmp_path):
    """SourceDataCleaner.run_topic removes deleted sources from the live
    storage index instead of leaving stale paths until the full sync."""
    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA, _write_fixture
    from pyspark.sql import Row

    # two files: the newest committed offset per partition is never removed,
    # so only the first is a delete candidate
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=60.0, serverStatus="A", ipAddress=None))],
        0, 0, 0, SERVER_STATUS_SCHEMA,
    )
    _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=120.0, serverStatus="B", ipAddress=None))],
        0, 1, 1, SERVER_STATUS_SCHEMA,
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, use_storage_index=True
    )
    plan = RestructurePlan(spark, cfg)
    plan.run()
    assert plan.storage_index.file_status_under(input_dir)

    from radar_output_restructure_spark.plans.cleaner import (
        CleanerConfig,
        SourceDataCleaner,
    )

    cleaner = SourceDataCleaner(
        spark, cfg, CleanerConfig(age_days=0.0), plan=plan
    )
    out = cleaner.run()["t"]
    assert out["deleted"], "cleaner should delete the extracted source"
    stale = [
        p
        for p, _m, _s in plan.storage_index.file_status_under(input_dir)
        if p in set(out["deleted"])
    ]
    assert not stale, "deleted sources must leave the live index immediately"


# ---------------------------------------------------------------------------
# the expectations straight off the routed scan vs the writer's transform
# ---------------------------------------------------------------------------


def _redelivery_files(input_dir: str, time_field: str = "time") -> tuple[str, str]:
    """Three Avro files of topic `t` with map and array leaves. Record B
    (time 3601) sits in f0 and is re-delivered in f1, next to B2, which
    differs from B in `value.props.a` only; f2 holds the newest offset, so
    f0 and f1 are the candidates. `time_field` names the record's time
    field. Returns (f0, f1)."""
    from tests.test_avro_source import DYNAMIC_SCHEMA, _write_avro_fixture

    schema = json.loads(
        json.dumps(DYNAMIC_SCHEMA).replace('"time"', json.dumps(time_field))
    )

    def rec(t, levels, props):
        return {"key": {"projectId": "p", "userId": "u", "sourceId": "s"},
                "value": {time_field: t, "levels": levels, "props": props}}

    b = rec(3601.0, [], {})
    f0 = _write_avro_fixture(
        input_dir, "t", [rec(3600.0, [1, 2], {"b": "x"}), b], 0, 0, 1,
        schema=schema,
    )
    f1 = _write_avro_fixture(
        input_dir, "t",
        [b, rec(3601.0, [], {"a": "z"}), rec(3602.0, [3], {"a": "y"})],
        0, 2, 4, schema=schema,
    )
    _write_avro_fixture(
        input_dir, "t", [rec(7200.0, [4], {})], 0, 5, 5, schema=schema
    )
    return f0, f1


def _expectations(cleaner, files) -> set[tuple]:
    src, _cols, _covered = cleaner._source_expectations("t", files)
    return {
        (r.source_file, r.target_path, r.time)
        for r in src.select("source_file", "target_path", "time").collect()
    }


@pytest.mark.parametrize(
    "fmt,dedup",
    [
        ("csv", None),
        ("csv", DedupConfig(enable=True)),
        ("csv", DedupConfig(enable=True, ignore_fields=["value.props.a"])),
        ("json", DedupConfig(enable=True)),
        ("parquet", DedupConfig(enable=True)),
    ],
    ids=["dedup-off", "whole-record", "ignore-fields", "json", "parquet"],
)
def test_cleaner_direct_route_verdicts_match_transform(
    spark, tmp_path, monkeypatch, fmt, dedup
):
    """Whenever the dedup key holds `value.time`, the check reads each
    record's (target, time) straight off `RestructurePlan.route`, with no
    flatten and no dedup window. A duplicate the writer dropped has its
    survivor's target and time, so the direct route expects the same
    (target, time) pairs as the writer's `transform(keep_cols=
    ('source_file',))` (a superset of its rows: the dropped copies too) and
    gives the same verdicts on a healthy tree."""
    from radar_output_restructure_spark.plans import cleaner as cleaner_mod

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0, f1 = _redelivery_files(input_dir)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        output_format=fmt, dedup=dedup or DedupConfig(),
    )
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    files = cleaner.candidate_files("t")
    assert [f.path for f in files] == [f0, f1]
    assert cleaner_mod._key_holds_time(cleaner.plan.dedup_config("t"), fmt)

    direct = _expectations(cleaner, files)
    verdict = cleaner.verify_topic("t", files)
    monkeypatch.setattr(cleaner_mod, "_key_holds_time", lambda *_a: False)
    survivors = _expectations(cleaner, files)
    assert cleaner.verify_topic("t", files) == verdict == {f0: True, f1: True}

    assert survivors <= direct
    assert {e[1:] for e in survivors} == {e[1:] for e in direct}
    # the re-delivered B is expected from both files on the direct route
    assert {e[0] for e in direct} == {f0, f1}
    if dedup is not None and fmt != "json":
        assert len(survivors) < len(direct)


def test_cleaner_distinct_fields_without_time_keeps_survivor_expectations(
    spark, tmp_path, monkeypatch
):
    """A `distinct_fields` key that leaves `value.time` out drops records
    whose time the target never holds (here every record of a user but the
    last in each hour file). The check then still runs the writer's
    `transform` and expects the survivors only: both candidates verify and
    none is revoked, so nothing loops through revoke and re-extraction."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0, f1 = _redelivery_files(input_dir)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        dedup=DedupConfig(enable=True, distinct_fields=["key.userId"]),
    )
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    calls = []
    transform = cleaner.plan.transform
    monkeypatch.setattr(
        cleaner.plan, "transform",
        lambda *a, **kw: calls.append(kw) or transform(*a, **kw),
    )
    assert cleaner.run_topic("t") == {"deleted": [f0, f1], "revoked": []}
    assert calls == [{"keep_cols": ("source_file",)}]


def test_cleaner_missing_time_revokes_every_file_holding_the_record(
    spark, tmp_path, monkeypatch
):
    """A target file that lacks one record's time revokes EVERY candidate
    file holding that record, the dropped duplicates' files included.
    Expecting the survivors only, the check revoked just the survivor's
    file (f1, keep-last) and deleted f0, whose copy of the record was
    never verified. This is the one verdict the direct route changes: it
    is stricter, and it never deletes a file whose record is missing."""
    from radar_output_restructure_spark.plans import cleaner as cleaner_mod

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0, f1 = _redelivery_files(input_dir)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        dedup=DedupConfig(enable=True),
    )
    (target,) = [
        f for f in RestructurePlan(spark, cfg).run()["t"]
        if f.endswith("19700101_0100.csv")
    ]
    with open(target) as fh:
        lines = fh.read().splitlines()
    kept = [ln for ln in lines if ",3601.0," not in ln]
    assert len(kept) == len(lines) - 2  # B and B2
    with open(target, "w") as fh:
        fh.write("\n".join(kept) + "\n")

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    files = cleaner.candidate_files("t")
    assert cleaner.verify_topic("t", files) == {f0: False, f1: False}
    monkeypatch.setattr(cleaner_mod, "_key_holds_time", lambda *_a: False)
    assert cleaner.verify_topic("t", files) == {f0: True, f1: False}


@pytest.mark.parametrize("case", ["excluded", "absent"])
def test_cleaner_revokes_all_without_value_time(spark, tmp_path, case):
    """With `value.time` excluded from the output, or absent from the
    schema (the record routes by `value.timeReceived`), no target holds a
    time to check: every candidate is revoked."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0, f1 = _redelivery_files(
        input_dir, "timeReceived" if case == "absent" else "time"
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        exclude_fields={"value.time"} if case == "excluded" else set(),
        dedup=DedupConfig(enable=True),
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert any(f.endswith("19700101_0100.csv") for f in finals)
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    assert cleaner.run_topic("t") == {"deleted": [], "revoked": [f0, f1]}


def test_key_holds_time_rule():
    """The rule that lets the check skip the dedup window."""
    from radar_output_restructure_spark.plans.cleaner import _key_holds_time

    def holds(fmt="csv", **kw):
        return _key_holds_time(DedupConfig(**kw), fmt)

    assert holds(enable=False, distinct_fields=["key.userId"])
    assert holds(enable=True)
    assert holds("json", enable=True, distinct_fields=["key.userId"])
    assert holds("parquet", enable=True, ignore_fields=["value.x"])
    assert holds(enable=True, distinct_fields=["key.userId", "value.time"])
    assert not holds(enable=True, distinct_fields=["key.userId"])
    assert not holds("parquet", enable=True, ignore_fields=["value.time"])
    assert not holds(
        enable=True, distinct_fields=["value.time"], ignore_fields=["value.time"]
    )


def test_steady_state_cycle_compiles_nothing(spark, tmp_path):
    """A restructure + cleaner cycle over a new landing of a schema the
    service has already seen generates no new code: every whole-stage and
    expression class it needs is in Janino's cache, so no per-cycle
    literal (file list, offsets, time bounds) reaches generated code.
    Two cycles warm the cache (the first cleaner pass of a topic, then a
    cycle shaped like the measured one); the third must add 0 to Spark's
    codegen compile count."""
    from tests.test_avro_source import DYNAMIC_SCHEMA, _write_avro_fixture

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        compression="gzip", dedup=DedupConfig(enable=True),
    )
    plan = RestructurePlan(spark, cfg)
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0), plan=plan)

    def land(i: int) -> str:
        # one file per cycle, same map keys and array arity, with one
        # record re-delivered from the previous landing
        recs = [
            {"key": {"projectId": "p", "userId": "u", "sourceId": "s"},
             "value": {"time": 3600.0 * (1 + i) + j, "levels": [j, i],
                       "props": {"a": str(j)}}}
            for j in range(-1, 3)
        ]
        return _write_avro_fixture(
            input_dir, "t", recs, 0, 4 * i, 4 * i + 3, schema=DYNAMIC_SCHEMA
        )

    def cycle(i: int) -> dict:
        land(i)
        assert plan.run()["t"]
        return cleaner.run_topic("t")

    land(0)
    assert cycle(1)["deleted"]
    assert cycle(2)["deleted"]
    before = compiles()
    result = cycle(3)
    assert result["deleted"] and not result["revoked"]
    assert compiles() - before == 0
