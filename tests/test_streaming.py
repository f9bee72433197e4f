"""Streaming surface tests (SURVEY §2.10): Structured Streaming restructure
with checkpointed exactly-once, service loop, watermarked window agg, and the
applyInPandasWithState session operator (streaming + batch parity)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from radar_output_restructure_spark.plans.restructure import (
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.streaming import (
    hourly_event_counts,
    run_service,
    session_windows,
    streaming_restructure,
)
from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA, _write_fixture


def _rows(t0: float, n: int):
    return [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=t0 + i, serverStatus="CONNECTED", ipAddress=None),
        )
        for i in range(n)
    ]


def test_streaming_restructure_exactly_once(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)

    q = streaming_restructure(spark, cfg, "t", ckpt)
    q.awaitTermination(120)
    target = os.path.join(output_dir, "p", "u", "t", "19700101_0100.csv")
    assert len(open(target).read().splitlines()) == 1 + 3

    # second drain with the SAME checkpoint: old file not reprocessed,
    # new file appends (the file-source log is the offset ledger, T1-T7)
    _write_fixture(spark, input_dir, "t", _rows(3610.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA)
    q2 = streaming_restructure(spark, cfg, "t", ckpt)
    q2.awaitTermination(120)
    assert len(open(target).read().splitlines()) == 1 + 5


def test_service_loop_incremental(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", _rows(3600.0, 2), 0, 0, 1, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    seen = []
    n = run_service(
        spark, cfg, interval_s=0.0, max_iterations=2,
        on_cycle=lambda i, r: seen.append(r["restructure"]["t"]),
        sleep=lambda s: None,
    )
    assert n == 2
    assert len(seen[0]) == 1  # first cycle wrote the bin
    assert seen[1] == []  # second cycle: conflated no-op (manifest prune)


def test_hourly_event_counts_batch(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (1, "2024-01-01 00:50:00"),
         (1, "2024-01-01 01:10:00"), (2, "2024-01-01 00:20:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r.user_id, str(r.bin_start)): r.n_events
        for r in hourly_event_counts(df).collect()
    }
    assert out == {
        (1, "2024-01-01 00:00:00"): 2,
        (1, "2024-01-01 01:00:00"): 1,
        (2, "2024-01-01 00:00:00"): 1,
    }


def test_session_windows_batch(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (1, 60.0), (1, 4000.0), (2, 10.0)], "user_id long, t double"
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = sorted(
        (r.user_id, r.n_events) for r in session_windows(df, gap_s=1800).collect()
    )
    # user 1: [0,60] and [4000]; user 2: [10]
    assert out == [(1, 1), (1, 2), (2, 1)]


def test_session_windows_streaming_state(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    df = spark.createDataFrame(
        [(1, 0.0), (1, 60.0), (1, 4000.0)], "user_id long, t double"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    )
    q = (
        session_windows(stream, gap_s=1800)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sessions_out").collect()
    # the first session (2 events) closed when the 4000s event arrived;
    # the second stays open in state awaiting timeout
    assert [(r.user_id, r.n_events) for r in rows] == [(1, 2)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered records within the watermark are dropped exactly once;
    state stays bounded by the watermark horizon."""
    import datetime
    import glob
    import os

    from pyspark.sql import Row

    from radar_output_restructure_spark.streaming.windows import streaming_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_id=1, ts=t0, v="a"),
        Row(event_id=2, ts=t0 + datetime.timedelta(minutes=1), v="b"),
        Row(event_id=1, ts=t0, v="a"),  # duplicate delivery
        Row(event_id=3, ts=t0 + datetime.timedelta(minutes=2), v="c"),
        Row(event_id=2, ts=t0 + datetime.timedelta(minutes=1), v="b"),  # dup
    ]
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, v string"
    ).parquet(src)
    deduped = streaming_dedup(stream, keys=("event_id",))
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.event_id for r in spark.read.parquet(out).collect()
    )
    assert got == [1, 2, 3]

    # batch fallback keeps the same contract
    batch = spark.createDataFrame(rows)
    assert streaming_dedup(batch).count() == 3


def test_streaming_restructure_parquet_append(spark, tmp_path):
    """The streaming restructure with the typed parquet sink: micro-batch 1
    creates the bin, micro-batch 2 (same checkpoint) row-group-merges into
    it; the file stays a single valid typed parquet object."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="parquet"
    )
    q = streaming_restructure(spark, cfg, "t", ckpt)
    q.awaitTermination(120)
    target = os.path.join(output_dir, "p", "u", "t", "19700101_0100.parquet")
    back = spark.read.parquet(target)
    assert back.count() == 3
    assert dict(back.dtypes)["value.time"] == "double"

    _write_fixture(
        spark, input_dir, "t", _rows(3610.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    q2 = streaming_restructure(spark, cfg, "t", ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == 5


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (watermarked event-time range join):
    the streaming result over two file streams equals the identical batch
    join — and the range condition is accepted by Structured Streaming's
    state-bounding analysis (the query runs without an unsupported-operation
    error, proving the watermark + range shape is the sanctioned one)."""
    import datetime as dt

    from radar_output_restructure_spark.streaming.windows import (
        stream_interval_join,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(uid, minute):
        return (uid, t0 + dt.timedelta(minutes=minute))

    clicks = [row(1, 1), row(1, 20), row(1, 61), row(2, 5)]
    anchors = [row(1, 0), row(1, 60), row(2, 30)]
    c_dir, a_dir, out = (
        str(tmp_path / "clicks"), str(tmp_path / "anchors"), str(tmp_path / "o"),
    )
    spark.createDataFrame(clicks, "user_id long, ts timestamp").write.parquet(c_dir)
    spark.createDataFrame(
        anchors, "user_id long, anchor_ts timestamp"
    ).write.parquet(a_dir)

    batch = stream_interval_join(
        spark.read.parquet(c_dir),
        spark.read.parquet(a_dir),
        window_s=3600,
    )
    t0_ = t0

    def mins(r):
        return (
            r.user_id,
            int((r.ts - t0_).total_seconds() // 60),
            int((r.anchor_ts - t0_).total_seconds() // 60),
        )

    expected = sorted(mins(r) for r in batch.collect())
    # window [anchor, anchor+1h): clicks 1,20 -> anchor 0; click 61 -> 60
    # (click 61 is outside [0,60)); no anchor precedes u2's click
    assert expected == [(1, 1, 0), (1, 20, 0), (1, 61, 60)]

    sj = stream_interval_join(
        spark.readStream.schema("user_id long, ts timestamp").parquet(c_dir),
        spark.readStream.schema("user_id long, anchor_ts timestamp").parquet(a_dir),
        window_s=3600,
    )
    q = (
        sj.writeStream.format("memory")
        .queryName("attribution_join")
        .outputMode("append")
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        mins(r) for r in spark.sql("select * from attribution_join").collect()
    )
    assert got == expected


def test_streaming_simhash_near_dup_matches_batch(spark, tmp_path):
    """The stateful streaming near-dup detector finds exactly the batch
    operator's pairs (after the documented per-band multiplicity dedup),
    fed the same fingerprints through a file stream split over two files
    (so pairs span micro-batch boundaries through state)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash,
        simhash_near_dup_pairs,
    )
    from radar_output_restructure_spark.streaming.windows import (
        streaming_simhash_near_dup_pairs,
    )

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dogs"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "totally unrelated text on streaming state"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    expected = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(docs).collect()
    )
    assert expected, "fixture must contain at least one near-dup pair"

    fp = simhash(docs)
    src = str(tmp_path / "fp_stream")
    fp.filter(F.col("doc") <= 1).coalesce(1).write.parquet(src)
    fp.filter(F.col("doc") > 1).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc long, simhash long").parquet(
        src + "/*.parquet"
    )
    out = streaming_simhash_near_dup_pairs(stream)
    from radar_output_restructure_spark.streaming.windows import (
        foreach_batch_pair_dedup,
    )

    sunk = str(tmp_path / "nd_out")
    q = (
        out.writeStream.foreachBatch(
            foreach_batch_pair_dedup(
                lambda df, _epoch: df.write.mode("append").parquet(sunk)
            )
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in spark.read.parquet(sunk).collect()
    )
    assert got == expected  # exact multiset parity via per-batch dedup

    # batch mode of the same function equals the batch operator verbatim
    batch = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in streaming_simhash_near_dup_pairs(fp).collect()
    )
    assert batch == expected


def test_streaming_simhash_wide_matches_batch(spark, tmp_path):
    """The WIDE (64-bit / 16-bit-band) stateful detector matches the wide
    batch operator across a micro-batch boundary — round-5 parity for the
    scale-safe geometry."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash_near_dup_pairs_wide,
        simhash_wide,
    )
    from radar_output_restructure_spark.streaming.windows import (
        streaming_simhash_near_dup_pairs_wide,
    )

    words = [f"w{i}" for i in range(21)]
    base = " ".join(w for w in words for _ in range(9))
    texts = [
        (0, base),
        (1, base + " extra"),  # near-dup of 0 (strong vote margins)
        (2, "completely different content about spark engines"),
        (3, base),  # exact dup of 0
        (4, "totally unrelated text on streaming state"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    expected = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs_wide(docs).collect()
    )
    assert expected, "fixture must contain at least one near-dup pair"

    fp = simhash_wide(docs)
    src = str(tmp_path / "fpw_stream")
    fp.filter(F.col("doc") <= 1).coalesce(1).write.parquet(src)
    fp.filter(F.col("doc") > 1).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "doc long, fp_lo long, fp_hi long"
    ).parquet(src + "/*.parquet")
    out = streaming_simhash_near_dup_pairs_wide(stream)
    # foreach_batch_pair_dedup closes the cross-band multiplicity, so the
    # sunk pairs are compared as an exact LIST against the batch plan —
    # no set() normalization (r6-verdict item 5)
    from radar_output_restructure_spark.streaming.windows import (
        foreach_batch_pair_dedup,
    )

    sunk = str(tmp_path / "nd_wide_out")
    q = (
        out.writeStream.foreachBatch(
            foreach_batch_pair_dedup(
                lambda df, _epoch: df.write.mode("append").parquet(sunk)
            )
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in spark.read.parquet(sunk).collect()
    )
    assert got == expected  # exact multiset parity, duplicates included
    batch = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in streaming_simhash_near_dup_pairs_wide(fp).collect()
    )
    assert batch == expected


def test_streaming_cms_counters_match_batch(spark, tmp_path):
    """Count-min counters are mergeable by construction (counters add), so
    the streaming plan is the same groupBy in update mode across
    micro-batches — final counter table must equal the batch sketch."""
    import os

    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.sketches import (
        cms_counters,
    )

    rows = [
        Row(doc_id=i, text=f"tok{i % 5} tok{i % 3} shared")
        for i in range(40)
    ]
    src = os.path.join(str(tmp_path), "docs")
    # two files -> at least two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(rows[:20]).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[20:]).coalesce(1).write.mode("append").parquet(src)

    batch_counts = {
        (r.row, r.bucket): r.cnt
        for r in cms_counters(spark.read.parquet(src)).collect()
    }

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        cms_counters(stream)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    stream_counts = {
        (r.row, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    assert stream_counts == batch_counts


def test_streaming_restructure_skips_locked_topic(spark, tmp_path):
    """tryWithLock-or-skip for the streaming path: a topic held by another
    replica returns None; after release the stream starts and the lock is
    held until termination."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    lock_dir = str(tmp_path / "locks")
    _write_fixture(spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, lock_dir=lock_dir
    )

    from radar_output_restructure_spark.locks import lock_manager_for

    other = lock_manager_for(lock_dir)
    held = other.acquire_lock("t")
    assert streaming_restructure(spark, cfg, "t", str(tmp_path / "c1")) is None
    held.close()

    q = streaming_restructure(spark, cfg, "t", str(tmp_path / "c2"))
    assert q is not None
    # while the query lives, the topic is locked
    assert lock_manager_for(lock_dir).acquire_lock("t") is None
    q.awaitTermination(120)
    # released on termination (daemon thread): poll briefly
    import time as _time

    for _ in range(100):
        lock = lock_manager_for(lock_dir).acquire_lock("t")
        if lock is not None:
            break
        _time.sleep(0.1)
    assert lock is not None
    lock.close()
    target = os.path.join(output_dir, "p", "u", "t", "19700101_0100.csv")
    assert len(open(target).read().splitlines()) == 1 + 3


def test_streaming_resident_lock_renewal(spark, tmp_path):
    """A resident query (processing_interval mode) outliving the lock TTL
    must KEEP mutual exclusion: the keeper thread renews at TTL/3, so a
    second replica's acquire fails throughout — without renewal the lock
    would be breakable after one TTL while the query still writes."""
    import time as _time

    from radar_output_restructure_spark.locks import lock_manager_for

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    lock_dir = str(tmp_path / "locks")
    _write_fixture(spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        lock_dir=lock_dir,
        lock_ttl_s=1.5,
    )
    q = streaming_restructure(
        spark,
        cfg,
        "t",
        str(tmp_path / "ckpt"),
        available_now=False,
        processing_interval="500 milliseconds",
    )
    assert q is not None
    try:
        other = lock_manager_for(lock_dir, ttl_s=1.5)
        deadline = _time.time() + 4.0  # ~3x the TTL
        while _time.time() < deadline:
            # an unrenewed 1.5 s-TTL lock would be stale (and broken) here
            assert other.acquire_lock("t") is None
            _time.sleep(0.25)
    finally:
        q.stop()
    # released on termination (daemon thread): poll briefly
    for _ in range(100):
        lock = other.acquire_lock("t")
        if lock is not None:
            break
        _time.sleep(0.1)
    assert lock is not None
    lock.close()


def test_streaming_two_replica_exactly_once(spark, tmp_path):
    """r8 verdict item 6: TWO streaming restructure replicas (own
    checkpoints, AvailableNow) against one shared target with locks + the
    shared manifest. The checkpoint only dedups within one lineage, so
    exactly-once across replicas comes from the topic locks (live overlap)
    plus the manifest anti-join (a fresh-lineage replica prunes committed
    files to nothing). Asserts: complete + duplicate-free union output,
    locks re-acquirable, and a FRESH-checkpoint rerun of both replicas is
    a global no-op."""
    import glob
    import threading

    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    lock_dir = str(tmp_path / "locks")
    topics = ["t_alpha", "t_beta", "t_gamma"]
    n_per_topic = {}
    for topic in topics:
        rows = [
            Row(
                key=Row(projectId="p", userId=f"u{r % 2}", sourceId="s"),
                value=Row(
                    time=1580219820.0 + r * 60.0,
                    serverStatus=f"{topic}-{r}",
                    ipAddress=None,
                ),
            )
            for r in range(12)
        ]
        _write_fixture(spark, input_dir, topic, rows[:7], 0, 0, 6, SERVER_STATUS_SCHEMA)
        _write_fixture(spark, input_dir, topic, rows[7:], 0, 7, 11, SERVER_STATUS_SCHEMA)
        n_per_topic[topic] = len(rows)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, lock_dir=lock_dir
    )

    def run_replica(name: str, ckpt_root: str, skipped: list, errors: list):
        try:
            queries = []
            for topic in topics:
                q = streaming_restructure(
                    spark, cfg, topic, os.path.join(ckpt_root, topic)
                )
                if q is None:
                    skipped.append(topic)
                else:
                    queries.append(q)
            for q in queries:
                q.awaitTermination(180)
        except BaseException as exc:  # surface into the test thread
            errors.append((name, exc))

    def run_both(tag: str):
        errors: list = []
        skips: dict[str, list] = {"r1": [], "r2": []}
        barrier = threading.Barrier(2)

        def go(name: str):
            barrier.wait(timeout=60)
            run_replica(
                name, str(tmp_path / f"ckpt_{tag}_{name}"), skips[name], errors
            )

        threads = [
            threading.Thread(target=go, args=(n,)) for n in ("r1", "r2")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not errors, errors
        return skips

    run_both("a")

    def read_statuses() -> list[str]:
        statuses = []
        for path in glob.glob(
            os.path.join(output_dir, "p", "*", "*", "*.csv")
        ):
            lines = open(path).read().strip().splitlines()
            statuses += [ln.split(",")[4] for ln in lines[1:]]
        return statuses

    statuses = read_statuses()
    assert len(statuses) == sum(n_per_topic.values())
    assert len(set(statuses)) == len(statuses), "duplicate rows across replicas"
    assert set(statuses) == {
        f"{t}-{r}" for t in topics for r in range(n_per_topic[t])
    }

    # locks all released (poll: release rides query-termination threads)
    import time as _time

    from radar_output_restructure_spark.locks import lock_manager_for

    for topic in topics:
        for _ in range(100):
            lock = lock_manager_for(lock_dir).acquire_lock(topic)
            if lock is not None:
                break
            _time.sleep(0.1)
        assert lock is not None, f"lock for {topic} not released"
        lock.close()

    # rerun BOTH replicas with FRESH checkpoints: every batch prunes
    # against the shared manifest to nothing — a global no-op
    run_both("b")
    assert read_statuses() == statuses


def test_service_covers_all_inputs_and_cleaner_first_cycle(spark, tmp_path):
    """One service cycle must cover EVERY paths.inputs entry (a
    loop-per-input would run the first input forever and never reach the
    rest), and the cleaner runs on the FIRST cycle deterministically
    instead of depending on host uptime via time.monotonic() - 0.0."""
    in_a, in_b = str(tmp_path / "inA"), str(tmp_path / "inB")
    out = str(tmp_path / "out")
    _write_fixture(spark, in_a, "ta", _rows(3600.0, 2), 0, 0, 1, SERVER_STATUS_SCHEMA)
    _write_fixture(spark, in_b, "tb", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfgs = [
        RestructureConfig(input_dir=in_a, output_dir=out),
        RestructureConfig(input_dir=in_b, output_dir=out),
    ]
    from radar_output_restructure_spark.plans.cleaner import CleanerConfig

    seen = []
    n = run_service(
        spark, cfgs, interval_s=0.0, max_iterations=1,
        cleaner=CleanerConfig(age_days=0.0),
        on_cycle=lambda i, r: seen.append(r),
        sleep=lambda s: None,
    )
    assert n == 1
    assert set(seen[0]["restructure"]) == {"ta", "tb"}  # both inputs ran
    assert "cleaner" in seen[0]  # first cycle, not uptime-dependent
    assert set(seen[0]["cleaner"]) == {"ta", "tb"}


def test_service_cleaner_shares_worker_plan(spark, tmp_path, monkeypatch):
    """With the worker enabled, each cleaner gets its config's worker plan:
    a source file the cleaner deletes leaves the worker's storage index in
    the same cycle, not at the index's next full re-sync. A cleaner-only
    service builds its own plan and keeps that plan's index current."""
    from radar_output_restructure_spark.plans.cleaner import CleanerConfig
    from radar_output_restructure_spark.streaming import service

    workers = []

    class RecordingPlan(RestructurePlan):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            workers.append(self)

    monkeypatch.setattr(service, "RestructurePlan", RecordingPlan)
    input_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(spark, input_dir, "t", _rows(3600.0, 2), 0, 0, 1, SERVER_STATUS_SCHEMA)
    f1 = _write_fixture(spark, input_dir, "t", _rows(7200.0, 2), 0, 2, 3, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=out, use_storage_index=True)
    seen = []
    run_service(
        spark, cfg, interval_s=0.0, max_iterations=1,
        cleaner=CleanerConfig(age_days=0.0),
        on_cycle=lambda i, r: seen.append(r),
        sleep=lambda s: None,
    )
    assert seen[0]["cleaner"] == {"t": {"deleted": [f0], "revoked": []}}
    (worker,) = workers
    listed = {p for p, _m, _s in worker.storage_index.file_status_under(input_dir)}
    assert f0 not in listed and f1 in listed

    # a cleaner-only service keeps its own plan and refreshes its index
    f2 = _write_fixture(spark, input_dir, "t", _rows(10800.0, 2), 0, 4, 5, SERVER_STATUS_SCHEMA)
    RestructurePlan(spark, cfg).run()
    seen.clear()
    run_service(
        spark, cfg, interval_s=0.0, max_iterations=1,
        cleaner=CleanerConfig(age_days=0.0), worker_enable=False,
        on_cycle=lambda i, r: seen.append(r),
        sleep=lambda s: None,
    )
    assert seen[0]["cleaner"] == {"t": {"deleted": [f1], "revoked": []}}
    assert os.path.exists(f2)


def test_service_cleaner_only(spark, tmp_path):
    """worker.enable=false: the cleaner-only deployment the reference
    supports — restructure must NOT run."""
    input_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", _rows(3600.0, 2), 0, 0, 1, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=out)
    from radar_output_restructure_spark.plans.cleaner import CleanerConfig

    seen = []
    run_service(
        spark, cfg, interval_s=0.0, max_iterations=1,
        cleaner=CleanerConfig(age_days=0.0), worker_enable=False,
        on_cycle=lambda i, r: seen.append(r),
        sleep=lambda s: None,
    )
    assert seen[0]["restructure"] == {}  # worker disabled
    assert "cleaner" in seen[0]
    assert not os.path.exists(os.path.join(out, "p"))  # nothing written
