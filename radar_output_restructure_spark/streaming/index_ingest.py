"""Streaming ingestion into the persisted IVF index (ANN serving upkeep).

Embedding deltas arriving as parquet drops become index appends without a
rebuild: the Structured Streaming file source tracks which source files each
micro-batch covered (its checkpoint IS the processed-file ledger, exactly as
in streaming/stream_restructure.py), and every batch appends the delta under
home-cell assignment against the FROZEN centroids — new files inside
existing `cell=` directories, probe-identical to a rebuild.

Exactly-once contract — two cooperating mechanisms:

* **Replay skip**: foreachBatch replays a failed epoch with the SAME
  batch_id, so the sink keeps a tiny `_ingest_ledger.json` holding the max
  committed epoch id next to the index (epoch ids are strictly increasing,
  so one integer suffices) and a replayed epoch at or below it is skipped.
* **Staged epochs**: each epoch lands through the index's staged swap
  (operators/ann_index.py states the protocol once) in `_epoch_staging/`,
  its intent `_EPOCH_INTENT.json` naming the exact `e{batch_id}-` tagged
  destination of every staged file; the ledger write is the swap's commit
  step, after the last move and before staging is dropped. Recovery rolls
  a published intent FORWARD: it completes the moves and commits the
  ledger for the intent's batch_id, so the replay of that epoch is then
  skipped as committed and every vector lands exactly once —
  `probe_ivf_index` stays rebuild-identical across any crash point. (The
  reference accepts the weaker at-least-once window between file upload
  and offset commit — worker/FileCache.kt:185, accountant.process after
  the write; the intent + ledger pair here is the batch manifest's
  write-then-commit shape, sources/manifest.py.)

The ledger, the staging dirs and the data files all go through one
`HadoopTargetStorage`, so they sit on the filesystem Spark's writer
resolved the index path to.

Single-writer contract — the ledger is keyed by the owning run: epoch ids
only mean anything within ONE checkpoint lineage, so the ledger records a
`run_id` (the checkpoint location) and any batch arriving under a different
run_id fails loudly instead of silently skipping real batches. This covers
the footguns: a fresh checkpoint pointed at an existing index (batch ids
restart at 0, every early batch would have been "already committed"), a
second concurrent ingestor with its own checkpoint (interleaved epoch ids),
a run_id=None batch harness over a stream-owned ledger (its commit would
bump max_committed under the owner and erase the owner stamp), and an
UNOWNED ledger with committed epochs probed at or below max_committed (the
silent-skip case; a continuing lineage arriving ABOVE the ledger proceeds
and stamps ownership — the legacy-format upgrade path). Remediation is
deliberate by design: rebuild the index, or point the new run at a clean
source dir and delete `_ingest_ledger.json`.

Optional auto-compaction bounds small-file growth: after every committed
append, cells holding more than `compact_max_files_per_cell` files are
rewritten to one file each (content-preserving, idempotent, and its intent
lists the explicit old files — safe to run after the ledger commit, and any
pending swap is completed before the next epoch appends).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from radar_output_restructure_spark.operators.ann_index import (
    _STAGING_DIR,
    _SWAP_MANIFEST,
    _parquet_names,
    compact_ivf_index,
    recover_staged_swap,
    staged_swap,
    write_ivf_index,
)
from radar_output_restructure_spark.sinks.storage import (
    HadoopTargetStorage,
    TargetStorage,
)

LEDGER_NAME = "_ingest_ledger.json"
EPOCH_STAGING_DIR = "_epoch_staging"
EPOCH_INTENT_NAME = "_EPOCH_INTENT.json"


def _read_ledger(storage, ledger_path: str) -> dict:
    if not storage.exists(ledger_path):
        return {"max_committed_batch_id": -1, "run_id": None}
    state = json.loads(storage.read(ledger_path))
    state.setdefault("run_id", None)
    return state


def _append_epoch(
    storage: TargetStorage,
    batch_df: DataFrame,
    centroids: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str,
    vec_col: str,
    commit: Callable[[dict], None],
) -> None:
    """Stage the epoch's cell-assigned files, then swap them in under
    `e{batch_id}-` tagged names (epochs never collide); `commit` runs
    after the last move."""
    staging = f"{index_path}/{EPOCH_STAGING_DIR}"
    write_ivf_index(
        batch_df, centroids, staging, id_col, vec_col, mode="overwrite"
    )
    moves = {
        d.split("=", 1)[1]: sorted(
            f"e{batch_id}-{n}"
            for n in _parquet_names(storage, f"{staging}/{d}")
        )
        for d in storage.list_dirs(staging)
        if d.startswith("cell=")
    }
    staged_swap(
        storage,
        index_path,
        EPOCH_STAGING_DIR,
        EPOCH_INTENT_NAME,
        {"batch_id": batch_id, "moves": moves},
        commit,
    )


def make_batch_ingestor(
    spark: SparkSession,
    index_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_max_files_per_cell: int | None = None,
    run_id: str | None = None,
):
    """The foreachBatch sink: recover, append idempotently, then commit.

    Exposed separately from `streaming_ivf_ingest` so the replay contract
    is directly testable: calling the returned function twice with the
    same batch_id appends exactly once, and a partial first attempt (crash
    at any point) is rolled forward and committed, so the retry skips it.

    `run_id` is the ownership key for the single-writer contract — the
    streaming entry point passes its checkpoint location. A ledger owned
    by ANYONE else raises instead of misinterpreting its epoch ids: a
    different named run, and equally a run_id=None batch harness over an
    owned ledger (its commit would bump max_committed under the owner and
    erase the owner stamp — silent epoch skips for the owning stream). An
    UNOWNED ledger that already holds committed epochs (a None harness's,
    or the pre-ownership format) raises exactly when the replay-skip rule
    would bite — `batch_id <= max_committed`, i.e. a fresh checkpoint
    restarting at 0 — while a continuing lineage (`batch_id` beyond the
    ledger, e.g. the same stream resuming over its own pre-ownership
    ledger) proceeds and stamps ownership at its first commit.
    """
    storage = HadoopTargetStorage(spark)
    ledger = index_path.rstrip("/") + "/" + LEDGER_NAME

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state = _read_ledger(storage, ledger)
        owner = state["run_id"]
        max_committed: int = state["max_committed_batch_id"]
        if owner is not None and run_id != owner:
            # Covers both a DIFFERENT named run and a run_id=None harness:
            # a None-harness commit over an owned ledger would bump
            # max_committed and erase the owner, making the owning stream
            # silently skip its next epochs (or fail its ownership check).
            raise RuntimeError(
                f"ingest ledger {ledger} is owned by run {owner!r} but "
                f"this ingestor runs as {run_id!r}: epoch ids from "
                "different checkpoints are not comparable, so proceeding "
                "would silently skip or duplicate batches. Reuse the "
                "original checkpoint, or rebuild the index (or point the "
                "new run at a clean source dir) and delete the ledger to "
                "transfer ownership."
            )
        if run_id is not None and owner is None and batch_id <= max_committed:
            # An UNOWNED ledger with committed epochs (run_id=None harness
            # or pre-ownership format): its epoch ids came from some other
            # lineage, so the replay-skip rule below must not be trusted
            # with them. Raise exactly when it would bite — a batch id at
            # or under max_committed (a fresh checkpoint restarting at 0).
            # A CONTINUING lineage (batch_id > max_committed, e.g. the
            # same stream resuming over its own pre-ownership ledger)
            # proceeds and stamps ownership at commit.
            raise RuntimeError(
                f"ingest ledger {ledger} holds committed epochs up to "
                f"{max_committed} but no owning run, and this ingestor "
                f"({run_id!r}) arrived with batch {batch_id}: adopting the "
                "ledger would silently skip this run's early batches. "
                "Rebuild the index (or point this run at a clean source "
                "dir) and delete the ledger to transfer ownership."
            )

        def commit(intent: dict) -> None:
            # the swap's commit step: the ledger write, for this epoch or
            # for a crashed one that recovery rolled forward
            nonlocal max_committed
            done = intent["batch_id"]
            if done <= max_committed:
                return  # committed before the crash that left staging
            if done > batch_id:
                # epoch ids only grow within one checkpoint lineage, so an
                # intent from a LATER epoch was left by another run;
                # committing it would silently skip this batch
                raise RuntimeError(
                    f"index {index_path} holds the uncommitted epoch {done} "
                    f"of another run, and this ingestor ({run_id!r}) "
                    f"arrived with batch {batch_id}: committing it would "
                    "silently skip this batch. Rebuild the index (or point "
                    "this run at a clean source dir) and delete the ledger."
                )
            storage.store_atomic(
                ledger,
                json.dumps(
                    {
                        "max_committed_batch_id": done,
                        # never erase an owner (a None harness can only get
                        # here over an unowned ledger, but keep it structural)
                        "run_id": run_id if run_id is not None else owner,
                    }
                ).encode(),
            )
            max_committed = done

        # Roll a crashed epoch forward and finish any published compaction
        # swap BEFORE appending — recovery must never run with this epoch's
        # fresh files already in the cell dirs (a post-publish swap
        # recovery that ran after the append once deleted committed rows).
        recover_staged_swap(
            storage, index_path, EPOCH_STAGING_DIR, EPOCH_INTENT_NAME, commit
        )
        recover_staged_swap(storage, index_path, _STAGING_DIR, _SWAP_MANIFEST)
        if batch_id <= max_committed:
            return  # replayed epoch already fully committed
        _append_epoch(
            storage,
            batch_df.select(F.col(id_col), F.col(vec_col)),
            centroids,
            index_path,
            batch_id,
            id_col,
            vec_col,
            commit,
        )
        if compact_max_files_per_cell is not None:
            compact_ivf_index(
                spark, index_path, max_files_per_cell=compact_max_files_per_cell
            )

    return process_batch


def streaming_ivf_ingest(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    centroids: DataFrame,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_interval: str | None = None,
    max_files_per_trigger: int = 1000,
    compact_max_files_per_cell: int | None = None,
) -> StreamingQuery:
    """Start the index-upkeep stream over a directory of embedding drops.

    `Trigger.AvailableNow` drains what exists and stops (cron-style upkeep);
    `processing_interval` keeps a resident poller. Either way the checkpoint
    carries the processed-file set across restarts, so re-running over the
    same directory ingests only new drops. The checkpoint location doubles
    as the ledger's ownership key: a second ingestor (fresh checkpoint or a
    concurrent replica) against the same index fails loudly on its first
    batch instead of silently skipping epochs.
    """
    if schema is None:
        try:
            schema = spark.read.parquet(source_dir).schema
        except Exception:
            # no drops yet (fresh upkeep job started before the first
            # arrival): derive the schema from the index itself — appends
            # must match its layout anyway — under the caller's column names
            idx_schema = spark.read.parquet(index_path).schema
            schema = T.StructType(
                [
                    T.StructField(id_col, idx_schema["vec_id"].dataType),
                    T.StructField(vec_col, idx_schema["embedding"].dataType),
                ]
            )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            make_batch_ingestor(
                spark,
                index_path,
                centroids,
                id_col=id_col,
                vec_col=vec_col,
                compact_max_files_per_cell=compact_max_files_per_cell,
                run_id=checkpoint_dir,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_interval:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()
