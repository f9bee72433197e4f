"""Persisted, cell-partitioned IVF index — the serving-side half of the ANN
story (the in-session operators in `similarity.py` are the build/query
half).

At 100 TB the corpus is indexed ONCE: every vector is assigned its home
coarse cell and the corpus is written `partitionBy(cell)` so each cell is
its own parquet directory. A probe then reads ONLY the `nprobe` cell
directories its queries hash to — Spark's partition pruning turns the cell
filter into a file-listing predicate, so a 16-cell index probed at
nprobe=4 scans 1/4 of the data and a 65k-cell production geometry scans
per-mille of it. Tests assert the pruning on the physical plan
(PartitionFilters + file counts), not just the result.

No reference analog (the reference never indexes embeddings); the design
is the standard FAISS/SCANN deployment shape re-expressed as parquet
layout + Catalyst partition pruning.

Every file operation on the index goes through one `HadoopTargetStorage`,
the filesystem Spark's writer resolved the index path to (a plain path is
`fs.defaultFS`), whose rename and delete carry each data file's `.crc`
sidecar along. Files replace or join a cell's files by one crash-safe
STAGED SWAP, shared by compaction (`_compact_staging/`, intent
`_SWAP_READY.json`) and the streaming epoch ingest (`_epoch_staging/`,
intent `_EPOCH_INTENT.json`; streaming/index_ingest.py):

1. Spark writes the new files `partitionBy(cell)` into the staging dir
   (underscore-prefixed, so index readers never see it).
2. The intent is published atomically inside staging, after that job's
   commit: per cell the staged names with their destination names and
   the exact OLD files they replace (none for an epoch).
3. Apply deletes the listed old files that still exist, then moves each
   staged file that still exists to its destination name;
4. the caller's commit runs (the epoch ingest's ledger write);
5. staging is dropped.

Recovery (`recover_staged_swap`) has one rule for both dirs: a published
intent is always completed, steps 3-5, and staging without an intent is
discarded. `staged_swap` publishes and then runs that same recovery, so a
swap and its completion after a crash are one code path. Each step skips
what an earlier attempt did, so a crash at any point leaves every row in
exactly one of destination or staging and the next call converges. Deleting only the listed old files means a file
that joined a cell after the intent was published is never touched.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.similarity import (
    _codebook,
    _codebook_argtop,
    _collect_queries,
    _probe_cells,
    _rerank,
    _vectors,
)
from radar_output_restructure_spark.sinks.storage import (
    HadoopTargetStorage,
    TargetStorage,
)


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize `corpus` as a cell-partitioned parquet index.

    Home-cell assignment is FUSED into the write scan (one Arrow pass that
    carries the vector through, `ivf_cells` arithmetic exactly: the
    codebook arrays of `_codebook`, the home cell of `_codebook_argtop`) —
    deriving cells as a separate frame and joining back on vec_id would
    shuffle the full corpus for a join of two copies of the same scan. The
    only exchange in the job is the partitionBy write fan-out itself.
    """
    import pandas as pd

    cells, cents, cnorms = _codebook(centroids, id_col, vec_col)
    id_type = corpus.schema[id_col].dataType.simpleString()
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    cell_type = centroids.schema[id_col].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            home = _codebook_argtop(_vectors(pdf), cents, cnorms, 1)[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["__v"],
                    "cell": cells[home],
                }
            )

    indexed = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    ).mapInPandas(
        assign,
        f"vec_id {id_type}, embedding {vec_type}, cell {cell_type}",
    )
    indexed.write.mode(mode).partitionBy("cell").parquet(path)


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat top-k against a PERSISTED index: identical semantics to
    `cosine_topk_ivf` (probe the query's `nprobe` nearest cells, exact
    rounded cosine inside them, (sim desc, id asc) ranking), but candidate
    generation is a partition-pruned scan of only the probed cell
    directories — the dominant cost at scale is proportional to the probed
    fraction, not the corpus. The index rows carry their vectors, so they
    feed the exact re-ranker (`similarity._rerank`) directly, with no join
    back to the corpus.
    """
    q = _collect_queries(queries, id_col, vec_col, "probe_ivf_index")
    qc, probed = _probe_cells(
        queries, centroids, q, _codebook(centroids, id_col, vec_col), nprobe, id_col
    )
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))
        .join(F.broadcast(qc), "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__v"),
        )
    )
    return _rerank(cand, q, k)


def append_ivf_index(
    corpus_delta: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally ingest a delta batch into an existing persisted index.

    At 100 TB the index is never rebuilt for a daily arrival: the delta is
    assigned against the SAME frozen centroids (identical `ivf_cells`
    arithmetic, fused into the write scan) and appended as new parquet
    files inside the matching `cell=` directories — dynamic partition
    append, touching only the cells the delta hashes to. Probes see the
    union immediately and results are bit-identical to a full rebuild,
    because home-cell assignment is a pure per-vector function of the
    frozen centroids (order/batching cannot change it). Re-clustering
    (centroid drift as the distribution shifts) is a separate, deliberate
    rebuild — the FAISS/SCANN operational split re-expressed as parquet
    layout.
    """
    write_ivf_index(
        corpus_delta, centroids, path, id_col, vec_col, mode="append"
    )


_STAGING_DIR = "_compact_staging"
_SWAP_MANIFEST = "_SWAP_READY.json"


def _parquet_names(storage: TargetStorage, dir_path: str) -> list[str]:
    """Names of the parquet data files directly inside `dir_path`."""
    files = storage.list_entries(dir_path)[1]
    return [n for n, _m, _s in files if n.endswith(".parquet")]


def _intent_moves(
    storage: TargetStorage, path: str, intent: dict
) -> tuple[dict, dict]:
    """(cell -> {staged name: destination name}, cell -> [old names]) of
    an intent in either on-disk shape: an epoch intent lists `e{batch_id}-`
    tagged destinations and replaces nothing; a compaction manifest keeps
    the staged names and lists `old_files` (a manifest written before
    `old_files` existed replaces the complement of the staged names, which
    was safe only because that format predates concurrent epoch appends)."""
    if "batch_id" in intent:
        tag = len(f"e{intent['batch_id']}-")
        moves = intent["moves"]
        return {c: {n[tag:]: n for n in ns} for c, ns in moves.items()}, {}
    cells = intent["cells"]
    old_files = intent.get("old_files")
    if old_files is None:
        old_files = {
            c: [n for n in _parquet_names(storage, f"{path}/cell={c}") if n not in ns]
            for c, ns in cells.items()
        }
    return {c: {n: n for n in ns} for c, ns in cells.items()}, old_files


def staged_swap(
    storage: TargetStorage,
    path: str,
    staging_dir: str,
    intent_name: str,
    intent: dict,
    commit: Callable[[dict], None] | None = None,
) -> None:
    """Publish `intent` inside the written staging dir, then carry it out
    through the recovery path, so every swap runs the code a crash does."""
    storage.store_atomic(
        f"{path}/{staging_dir}/{intent_name}", json.dumps(intent).encode()
    )
    recover_staged_swap(storage, path, staging_dir, intent_name, commit)


def recover_staged_swap(
    storage: TargetStorage,
    path: str,
    staging_dir: str,
    intent_name: str,
    commit: Callable[[dict], None] | None = None,
) -> None:
    """Steps 3-5 of the staged swap (module docstring) for a published
    intent, `commit(intent)` after the last move; staging without an
    intent is discarded. Every step skips what a crashed earlier attempt
    did. Callers that append to the index outside `compact_ivf_index`
    (the streaming epoch ingestor) run this for both staging dirs before
    appending, so no swap can interleave with files newer than its
    intent."""
    staging = f"{path}/{staging_dir}"
    if storage.exists(f"{staging}/{intent_name}"):
        intent = json.loads(storage.read(f"{staging}/{intent_name}"))
        moves, old_files = _intent_moves(storage, path, intent)
        for cell, names in moves.items():
            dest = f"{path}/cell={cell}"
            for name in old_files.get(cell, ()):
                storage.delete(f"{dest}/{name}")
            storage.makedirs(dest)
            for src, dst in names.items():
                if storage.exists(f"{staging}/cell={cell}/{src}"):
                    storage.move(f"{staging}/cell={cell}/{src}", f"{dest}/{dst}")
        if commit is not None:
            commit(intent)
    storage.delete(staging)


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    max_files_per_cell: int = 1,
) -> dict:
    """Rewrite cells whose parquet-file count exceeds `max_files_per_cell`
    back to one file each — the maintenance half of `append_ivf_index`.

    Daily appends land each delta as its own file inside every touched
    `cell=` directory, so after D days a probe of one cell opens O(D)
    small files; footer/open overhead starts to dominate the pruned scan
    the layout exists to provide. Compaction is Spark-native and
    storage-agnostic (file://, s3a://, abfs:// alike):

    * census via the `_metadata.file_path` column — cell + file path only,
      so column pruning keeps the scan at parquet-footer cost;
    * only CROWDED cells are re-read (partition-pruned scan) and
      `repartition("cell")` hash-routes each cell to exactly one task =
      one output file;
    * the compacted copies replace the crowded cells' files through the
      staged swap (module docstring), never an in-place overwrite: the
      intent lists the exact pre-compaction files, so anything appended
      to a cell after it was published is never deleted.

    Probe results are unchanged by construction (same rows, same cells);
    a probe racing the swap itself can transiently see a thinner cell —
    run compaction from the index's maintenance owner (e.g. between
    ingest epochs), like any table-maintenance operation.

    Returns {"cells_compacted", "files_before", "files_after"}.
    """
    storage = HadoopTargetStorage(spark)
    staging = f"{path}/{_STAGING_DIR}"
    recover_staged_swap(storage, path, _STAGING_DIR, _SWAP_MANIFEST)

    census = (
        spark.read.parquet(path)
        .select("cell", F.col("_metadata.file_path").alias("__f"))
        .groupBy("cell")
        .agg(F.countDistinct("__f").alias("n_files"))
        .filter(F.col("n_files") > max_files_per_cell)
        .collect()  # driver-small: one row per crowded cell
    )
    if not census:
        return {"cells_compacted": 0, "files_before": 0, "files_after": 0}
    crowded = sorted(r.cell for r in census)
    files_before = sum(r.n_files for r in census)

    # the compacted copies into staging (job-commit atomic), then the swap
    (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(crowded))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    manifest = {
        "cells": {
            str(c): _parquet_names(storage, f"{staging}/cell={c}")
            for c in crowded
        },
        "old_files": {
            str(c): _parquet_names(storage, f"{path}/cell={c}")
            for c in crowded
        },
    }
    staged_swap(storage, path, _STAGING_DIR, _SWAP_MANIFEST, manifest)
    return {
        "cells_compacted": len(crowded),
        "files_before": files_before,
        "files_after": len(crowded),
    }
