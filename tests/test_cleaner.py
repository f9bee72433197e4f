"""Cleaner lifecycle test (SURVEY §2.9 / §3.2): age+offset candidate filter,
extraction verification (one time-set check per target file),
delete-or-revoke. Models
cleaner/SourceDataCleanerTest behavior + TimestampExtractionCheck.kt:23-106."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.plans.cleaner import CleanerConfig, SourceDataCleaner
from radar_output_restructure_spark.plans.restructure import (
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
