"""Structured Streaming restructure (SURVEY ST1/ST4/ST5).

The reference's polling service + Redis offset accounting collapse into the
Structured Streaming file source: its checkpointed file log IS the
processed-file ledger (SURVEY T1-T7 — the same file-granularity exactly-once
the batch plan's manifest provides), `maxFileAge`/listing options replace the
storage index, and `Trigger.AvailableNow` gives drain-and-stop semantics
while `Trigger.ProcessingTime` matches service polling.

Each micro-batch reuses the UNCHANGED batch plan (`RestructurePlan.transform`
+ exact-name writer) through foreachBatch — one code path for batch and
streaming, the Spark-idiomatic equivalent of the reference running the same
worker from both `main` and service mode.

Late data (ST3): no watermark, by design — the reference appends arbitrarily
late records into their (old) hourly file whenever they arrive, which the
exact-name writer's append mode reproduces.

Replication (T5): the checkpoint only dedups within ONE query lineage, so a
second replica (its own checkpoint) over the same tree would re-extract
everything. The streaming path therefore speaks the SAME two replica
primitives as the batch plan: the per-topic lock (`config.lock_dir` —
tryWithLock-or-skip, held for the query's lifetime, RENEWED every TTL/3
so a resident query outliving the TTL keeps mutual exclusion — a failed
renewal means the lock was broken elsewhere and STOPS the query rather
than write alongside the new holder — and released on termination) keeps
two live replicas off one topic, and every micro-batch anti-joins its
files against the SHARED processed-file manifest and commits after the
write (write-then-commit, T2) — so a replica with a fresh checkpoint
prunes already-extracted files to nothing instead of duplicating them. This mirrors the reference's replicated service mode
(worker/RadarKafkaRestructure.kt:108-128 over
accounting/RedisRemoteLockManager.kt:8-45).

At-least-once window (T2, reference parity): each micro-batch writes the
output files first and commits the shared manifest second. A crash between
the two replays the batch on restart — the manifest prune skips the files
that did commit, but the files written-not-committed get appended a second
time into their exact-name outputs. The reference has the identical window
(worker/FileCache.kt:181-186); the mitigation is the same — dedup-on-append
(`DedupConfig`) on the affected topics. See sources/manifest.py for the
full argument.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from radar_output_restructure_spark.plans.restructure import (
    META_COLS,
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.sources.kafka_tree import with_file_metadata
from radar_output_restructure_spark.sources.manifest import FileEntry


def streaming_restructure(
    spark: SparkSession,
    config: RestructureConfig,
    topic: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    available_now: bool = True,
    processing_interval: str | None = None,
) -> StreamingQuery | None:
    """Start the per-topic streaming restructure query.

    One stream per topic (schemas differ per topic; the reference also
    processes per topic). `schema` may be omitted when source files already
    exist — it is inferred from a one-off batch read of the tree.

    Returns None when `config.lock_dir` is set and another replica holds
    the topic (the reference's tryWithLock-or-skip); otherwise the lock is
    held until the returned query terminates.
    """
    cfg = config
    plan = RestructurePlan(spark, cfg)
    lock = None
    acquired_at = time.monotonic()
    if plan._lock_manager is not None:
        lock = plan._lock_manager.acquire_lock(topic)
        acquired_at = time.monotonic()
        if lock is None:
            return None  # held by another replica: skip, like the batch plan
    try:
        pattern = f"{cfg.input_dir}/{topic}/partition=*/"
        if schema is None:
            schema = spark.read.format(cfg.source_format).load(pattern).schema
        stream = (
            spark.readStream.format(cfg.source_format)
            .schema(schema)
            .option("maxFilesPerTrigger", cfg.max_files_per_topic or 1000)
            .load(pattern)
        )
        if "partition" in stream.columns:
            stream = stream.drop("partition")
        stream = with_file_metadata(stream.select("*", "_metadata")).drop(
            "_metadata"
        )

        # LOCKED mode: manifest state is loaded ONCE and maintained in the
        # closure — a resident stream commits one segment per batch, so
        # re-reading every segment per batch (prune() = full load()) would
        # be O(batches^2) driver-side storage reads — 10k GETs per
        # micro-batch after 10k batches on an object store. Under the topic
        # lock only THIS process commits this topic's files, so the
        # snapshot plus our own commits is exact; cross-replica pruning
        # only matters at lineage start (files a previous holder
        # committed), which the startup snapshot covers.
        #
        # LOCKLESS mode (lock is None): the snapshot goes stale — a batch
        # plan.run or another unlocked replica may commit files after our
        # startup, and a never-refreshed snapshot would re-extract
        # (duplicate) them. Keep the per-batch reload here: it cannot
        # eliminate interleaved double-writes (both replicas can prune
        # before either commits — that is what the lock is FOR), but it
        # bounds the duplication to the in-flight batch instead of the
        # whole stream lifetime. maybe_compact() bounds the per-batch
        # reload cost to O(compacted segments).
        locked = lock is not None
        plan.manifest.maybe_compact()  # bound segment growth (see plan.run)
        seen = plan.manifest.load()

        def process_batch(batch_df, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            if not locked:
                plan.manifest.maybe_compact()
                seen.clear()
                seen.update(plan.manifest.load())
            # Shared-manifest anti-join (P4/J1 at file granularity — the
            # file list is driver-small even at 100 TB): a fresh-checkpoint
            # replica re-reads files another replica already committed;
            # prune them here instead of re-extracting.
            listed = [
                FileEntry(r.source_file, r.m)
                for r in batch_df.select(
                    "source_file",
                    (F.col("file_modified").cast("double") * 1000)
                    .cast("long")
                    .alias("m"),
                )
                .distinct()
                .collect()
            ]
            todo = [
                f
                for f in listed
                if f.path not in seen or f.modified_ms > seen[f.path]
            ]
            if not todo:
                return
            if len(todo) < len(listed):
                batch_df = batch_df.filter(
                    F.col("source_file").isin(sorted(e.path for e in todo))
                )
            flat, part_cols = plan.transform(batch_df, topic)
            plan.write_frame(
                flat, part_cols, topic, batch_df.drop(*META_COLS).schema
            )
            # write-then-commit (T2): crash before this line replays the
            # epoch, and the manifest prune above makes the replay a no-op
            # for the files that did commit
            plan.manifest.commit(todo)
            seen.update((f.path, f.modified_ms) for f in todo)

        writer = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_interval:
            writer = writer.trigger(processingTime=processing_interval)
        query = writer.start()
    except BaseException:
        if lock is not None:
            lock.close()
        raise
    if lock is not None:
        threading.Thread(
            target=_keep_and_release,
            args=(query, lock, plan._lock_manager.ttl_s, acquired_at),
            daemon=True,
        ).start()
    return query


def _keep_and_release(
    query, held, ttl: float, acquired_at: float | None = None
) -> None:
    """Lock-keeper loop: renew the topic lock at TTL/3 for the query's
    lifetime; release it only AFTER the query terminates (or after stopping
    the query on a definitively lost lock). Module-level so the
    renew-failure semantics are unit-testable with fakes."""
    # Renew at a third of the TTL: a resident query (processing_interval
    # mode) outlives the TTL, and an unrenewed lock would be broken by a
    # second replica while this one still writes — two live holders.
    renew_every = max(ttl / 3.0, 0.5)
    try:
        # The lease was stamped at ACQUIRE time, before stream construction
        # (which runs real Spark jobs and can eat most of a short TTL), so
        # the renew-error grace window must be measured from there — not
        # from keeper-thread start, which would trust the lease for a full
        # TTL past a point where a breaker may already have taken it. Only
        # a SUCCESSFUL renew advances the mark.
        last_renewed = (
            acquired_at if acquired_at is not None else time.monotonic()
        )
        wait = renew_every
        first = True
        while True:
            if first:
                # Renew IMMEDIATELY on keeper start, before any wait: the
                # lock was acquired BEFORE stream construction, and
                # building the stream runs real Spark jobs (schema
                # inference, manifest load), so by the time this thread
                # runs, a short-TTL lock may already be near expiry — a
                # first renewal one full renew_every later arrives too
                # late and a second replica breaks the stale lock while
                # the query writes.
                first = False
            else:
                try:
                    if query.awaitTermination(wait):
                        return  # terminated: release in finally
                except Exception:
                    return  # failed query: release in finally
            try:
                ok = held.renew()
            except Exception:
                # TRANSIENT storage error (503, socket timeout): renew()
                # raising must NOT release the lock while the query still
                # writes — the last successful renewal left ~2/3 of the TTL
                # of slack, so retry sooner instead. Only when errors
                # persist past the full TTL (the lease may genuinely have
                # lapsed and been taken elsewhere) do we treat it as lost.
                if time.monotonic() - last_renewed < ttl:
                    wait = max(renew_every / 8.0, 0.1)
                    continue
                ok = False
            if ok:
                last_renewed = time.monotonic()
                wait = renew_every
                continue
            # Mutual exclusion LOST (holder paused past the TTL, lock
            # broken elsewhere, or renewal errors outlived the TTL). Stop
            # the query BEFORE the finally releases the lock: writing on
            # alongside the new holder would duplicate rows in the
            # exact-name output files.
            try:
                query.stop()
            except Exception:
                pass
            return
    finally:
        held.close()
