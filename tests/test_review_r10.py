"""Regression tests for the round-10 code-review findings in
operators/curation.py and the similarity, sketch, timeseries, funnel and
streaming operators, plus the write-then-commit crash window.
The curation findings were mirrored into the DuckDB oracle in
queries_docs.py: these tests pin the SEMANTICS the oracle comparison alone
cannot see, because the oracle mirrored the bug. The operators/text.py
findings are tested in test_text_ops.py, the multimodal one in
test_multimodal.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_temperature_mixture_keeps_null_bucket_rows(spark):
    from radar_output_restructure_spark.operators.curation import (
        temperature_mixture_sample,
    )

    rows = [Row(doc_id=i, lang=("en" if i % 2 else None)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture_sample(df, base_rate_per_mille=1000)
    # base rate 1.0 and both buckets equal-sized: EVERY row survives,
    # including the NULL-lang half that the inner equi-join used to drop
    assert out.count() == 200
    assert out.filter(F.col("lang").isNull()).count() == 100


def test_per_source_cap_keeps_null_source_group(spark):
    from radar_output_restructure_spark.operators.curation import (
        per_source_cap,
    )

    rows = [
        Row(doc_id=i, source=("a" if i < 5 else None), text=f"doc {i} text")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = per_source_cap(df, cap=3)
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src.get("a") == 3
    assert by_src.get(None) == 3, (
        "NULL-source rows must be capped as their own group, not dropped "
        "by pandas' dropna=True default"
    )


def test_content_split_null_text_hashes_like_empty(spark):
    from radar_output_restructure_spark.operators.curation import (
        content_train_split,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="")],
        "doc_id long, text string",
    )
    out = {r["doc"]: (r["bucket"], r["split"]) for r in content_train_split(df).collect()}
    assert out[1] == out[2]  # NULL == empty content: same bucket, same split
    assert out[1][0] is not None  # a real hex bucket, not NULL-to-'test'
    assert out[1] == ("d4", "train")  # md5('')[0:2]


# ---------------------------------------------------------------------------
# similarity.py review findings
# ---------------------------------------------------------------------------


def test_label_centroid_zero_norm_label_pins_cos_zero(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        label_centroid_similarity,
    )

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, label="a", embedding=[1.0, 2.0]),
            Row(vec_id=2, label="z", embedding=[0.0, 0.0]),  # zero centroid
        ],
        "vec_id long, label string, embedding array<double>",
    )
    rows = label_centroid_similarity(emb).collect()
    assert len(rows) == 1
    assert rows[0]["cos"] == 0.0  # not NaN


# ---------------------------------------------------------------------------
# write-then-commit crash window: documented behavior + dedup mitigation
# ---------------------------------------------------------------------------


def _crash_fixture(spark, tmp_path):
    import os

    from tests.test_restructure_e2e import _write_fixture

    input_dir = str(tmp_path / "in")
    rows = [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=3600.0 + i, status=s),
        )
        for i, s in enumerate(["A", "B", "C"])
    ]
    _write_fixture(spark, input_dir, "t", rows, 0, 0, 2)
    return input_dir, str(tmp_path / "out")


def _run_with_crash_before_commit(spark, cfg):
    """Run the plan but crash between the output write and the manifest
    commit — the T2 at-least-once window. run() isolates per-topic
    failures (r11 reference-parity change), so the crash surfaces on
    last_errors rather than propagating."""
    from radar_output_restructure_spark.plans.restructure import (
        RestructurePlan,
    )

    plan = RestructurePlan(spark, cfg)

    def crash(files):
        raise RuntimeError("crash between write and commit")

    plan.manifest.commit = crash
    plan.run()
    err = plan.last_errors.get("t")
    assert isinstance(err, RuntimeError) and "between write and commit" in str(
        err
    )


def test_crash_between_write_and_commit_duplicates_then_rerun(
    spark, tmp_path
):
    """Documented behavior (README, sources/manifest.py): a crash between
    write and commit replays the batch and APPENDS duplicate rows — exact
    reference parity (worker/FileCache.kt:181-186)."""
    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )

    input_dir, output_dir = _crash_fixture(spark, tmp_path)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    _run_with_crash_before_commit(spark, cfg)

    finals = RestructurePlan(spark, cfg).run()["t"]  # recovery run
    lines = open(finals[0]).read().splitlines()
    assert len(lines) == 1 + 6  # header + 3 original + 3 replayed (dup)

    # and the ledger now owns the files: a THIRD run is a no-op
    assert RestructurePlan(spark, cfg).run() == {"t": []}


def test_crash_replay_with_dedup_collapses_duplicates(spark, tmp_path):
    """The documented mitigation: dedup-on-append rewrites the whole file
    (reference FileCache.closeAndJoin), so the replayed batch's rows
    collapse into the survivors."""
    from radar_output_restructure_spark.plans.restructure import (
        DedupConfig,
        RestructureConfig,
        RestructurePlan,
    )

    input_dir, output_dir = _crash_fixture(spark, tmp_path)
    cfg = RestructureConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        dedup=DedupConfig(enable=True),
    )
    _run_with_crash_before_commit(spark, cfg)

    finals = RestructurePlan(spark, cfg).run()["t"]  # recovery run
    lines = open(finals[0]).read().splitlines()
    assert len(lines) == 1 + 3, lines  # duplicates collapsed
    assert sorted(lines[1:]) == [
        "p,u,s,3600.0,A",
        "p,u,s,3601.0,B",
        "p,u,s,3602.0,C",
    ]


def test_dedup_on_append_across_runs_keep_last(spark, tmp_path):
    """Late data appending an already-written row must dedup against the
    EXISTING file content, not just within its own batch."""
    import os

    from tests.test_restructure_e2e import _write_fixture

    from radar_output_restructure_spark.plans.restructure import (
        DedupConfig,
        RestructureConfig,
        RestructurePlan,
    )

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    base = [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=3600.0 + i, status=s),
        )
        for i, s in enumerate(["A", "B"])
    ]
    _write_fixture(spark, input_dir, "t", base, 0, 0, 1)
    cfg = RestructureConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        dedup=DedupConfig(enable=True),
    )
    RestructurePlan(spark, cfg).run()

    # a second source file carries ONE duplicate of row A and one new row
    late = [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=3600.0, status="A"),
        ),
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=3602.0, status="Z"),
        ),
    ]
    _write_fixture(spark, input_dir, "t", late, 0, 2, 3)
    finals = RestructurePlan(spark, cfg).run()["t"]
    lines = open(finals[0]).read().splitlines()
    assert len(lines) == 1 + 3, lines  # A deduped across runs
    assert lines[1:] == [
        "p,u,s,3601.0,B",
        "p,u,s,3600.0,A",  # keep-LAST: the replayed A survives, in its
        "p,u,s,3602.0,Z",  # last-occurrence position (reference order)
    ]


# ---------------------------------------------------------------------------
# sketches / timeseries / funnel review findings
# ---------------------------------------------------------------------------


def test_interval_join_drops_inverted_intervals(spark):
    """An end <= start interval must be dropped BEFORE the bucket explode —
    Spark's sequence() silently generates a huge DESCENDING array when
    start > stop (one epoch-0-end sentinel row = ~500k junk buckets)."""
    from radar_output_restructure_spark.operators.timeseries import (
        interval_join,
    )

    left = spark.createDataFrame(
        [Row(user_id=1, ts="2026-01-01 10:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            Row(user_id=1, s="2026-01-01 09:00:00", e="2026-01-01 11:00:00"),
            Row(user_id=1, s="2026-01-01 09:00:00", e="1970-01-01 00:00:00"),
        ],
        "user_id long, s string, e string",
    ).select(
        "user_id",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = interval_join(
        left, right, keys="user_id", left_ts="ts", start_col="s",
        end_col="e", bucket_s=3600
    )
    assert out.count() == 1  # matches the valid interval only, no blow-up


def test_scd2_null_state_opens_its_own_island(spark):
    from radar_output_restructure_spark.operators.timeseries import (
        scd2_intervals,
    )

    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=1.0, event_id=1, state="login"),
            Row(user_id=1, ts=2.0, event_id=2, state=None),
            Row(user_id=1, ts=3.0, event_id=3, state="logout"),
        ],
        "user_id long, ts double, event_id long, state string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_intervals(
        df, key_col="user_id", state_col="state", ts_col="ts",
        tie_col="event_id",
    ).orderBy("valid_from")
    rows = out.collect()
    assert len(rows) == 3, rows  # NULL state is its OWN interval, not
    # absorbed into 'login'
    states = [r["state"] for r in rows]
    assert states == ["login", None, "logout"]


def test_event_path_topk_drops_null_mid_path(spark):
    from radar_output_restructure_spark.operators.funnel import (
        event_path_topk,
    )

    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=float(i), event_id=i, event_type=t)
            for i, t in enumerate(["a", None, "c", "a", "b", "c"])
        ],
        "user_id long, ts double, event_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    paths = {r["path"] for r in event_path_topk(df, n=3).collect()}
    # (a, NULL, c) must not corrupt into the colliding path 'a>c'
    assert "a>c" not in paths
    assert "a>b>c" in paths


def test_funnel_excludes_null_users(spark):
    from radar_output_restructure_spark.operators.funnel import funnel

    rows = [
        Row(user_id=None, ts=1.0, event_type="view"),
        Row(user_id=None, ts=2.0, event_type="click"),
        Row(user_id=7, ts=1.0, event_type="view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = funnel(df, steps=("view", "click")).first()
    assert out["n_step1"] == 1  # the NULL "user" is not a funnel subject
    assert out["n_step2"] == 0


def test_cms_bucket_rejects_depth_past_digest():
    from pyspark.sql import functions as F

    from radar_output_restructure_spark.operators.sketches import _cms_bucket

    with pytest.raises(ValueError, match="32 hex chars"):
        _cms_bucket(F.lit("ab"), row=4, width=1024)


def test_log_bucket_quantiles_survive_nanosecond_epochs(spark):
    """Values >= 2^60 must not wrap int64 in the sub-bucket arithmetic."""
    from radar_output_restructure_spark.operators.sketches import (
        log_bucket_quantiles,
    )

    big = [1_700_000_000_000_000_000 + i * 10**15 for i in range(100)]
    df = spark.createDataFrame(
        [Row(grp="ns", v=x) for x in big], "grp string, v long"
    )
    row = log_bucket_quantiles(df, group_col="grp", value_col="v").first()
    # exact python replay of the documented bucket rule
    def lb(x):
        p = 1 << (x.bit_length() - 1)
        return p + ((x - p) // (p // 16)) * (p // 16)

    lbs = sorted(lb(x) for x in big)
    def q(pct):
        need = (len(big) * pct + 99) // 100
        return lbs[need - 1]

    assert row["q50"] == q(50) and row["q95"] == q(95) and row["q99"] == q(99)
    assert row["q99"] > 0  # the wrapped-negative symptom


# ---------------------------------------------------------------------------
# streaming/windows.py review findings (batch-mode checks; stream paths
# share the fixed code)
# ---------------------------------------------------------------------------


def test_streaming_funnel_batch_excludes_null_users(spark):
    from radar_output_restructure_spark.streaming.windows import (
        streaming_funnel_conversions,
    )

    rows = [
        Row(user_id=None, ts=1.0, event_type="view"),
        Row(user_id=None, ts=2.0, event_type="click"),
        Row(user_id=None, ts=3.0, event_type="purchase"),
        Row(user_id=5, ts=1.0, event_type="view"),
        Row(user_id=5, ts=2.0, event_type="click"),
        Row(user_id=5, ts=3.0, event_type="purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_funnel_conversions(df).collect()
    assert [r["user_id"] for r in out] == [5]


def test_session_windows_drop_null_ts(spark):
    from radar_output_restructure_spark.streaming.windows import (
        session_windows,
    )

    rows = [
        Row(user_id=1, ts=1.0),
        Row(user_id=1, ts=None),
        Row(user_id=1, ts=10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = session_windows(df, gap_s=100.0).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 2  # the NULL-ts row neither sessions nor
    # splits the real session


def test_streaming_dedup_batch_keeps_first_arrival(spark):
    from radar_output_restructure_spark.streaming.windows import (
        streaming_dedup,
    )

    rows = [
        Row(event_id=1, ts=2.0, payload="late"),
        Row(event_id=1, ts=1.0, payload="first"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts double, payload string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_dedup(df).collect()
    assert len(out) == 1
    assert out[0]["payload"] == "first"  # deterministic, not arbitrary


def test_simhash_stream_popcount_masks_signed_fingerprints(spark, tmp_path):
    """A signed 64-bit fingerprint (-256) is 56 bits away from 0 in
    two's-complement; the unmasked Python popcount said 1 and emitted a
    false near-dup pair that batch mode rejects."""
    import glob
    import os

    from radar_output_restructure_spark.streaming.windows import (
        streaming_simhash_near_dup_pairs,
    )

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    batch = spark.createDataFrame(
        [Row(doc=1, simhash=-256), Row(doc=2, simhash=0)],
        "doc long, simhash long",
    )
    # batch mode (the reference semantics): bit_count(-256 ^ 0) = 56 > 3
    got_batch = streaming_simhash_near_dup_pairs(
        batch, bits=64, bands=8, max_hamming=3
    ).collect()
    assert got_batch == []

    # streaming mode over the same two rows must agree
    batch.coalesce(1).write.parquet(src_dir + "/d1")
    stream = (
        spark.readStream.schema("doc long, simhash long")
        .parquet(src_dir + "/d1")
    )
    out_rows = []
    q = (
        streaming_simhash_near_dup_pairs(
            stream, bits=64, bands=8, max_hamming=3
        )
        .writeStream.foreachBatch(
            lambda bdf, _i: out_rows.extend(bdf.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert out_rows == [], out_rows
