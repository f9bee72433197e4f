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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import driver_gate
from radar_output_restructure_spark.operators.similarity import (
    _codebook,
    _codebook_argtop,
    _rerank,
    _vectors,
    ivf_cells,
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
    query_cells = ivf_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")
    probe_rows = query_cells.collect()  # queries are driver-small by contract
    needed = sorted({r.cell for r in probe_rows})

    idx = spark.read.parquet(path).filter(F.col("cell").isin(needed))
    qc = driver_gate.local_frame(spark, probe_rows, query_cells.schema)
    cand = idx.join(F.broadcast(qc), "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__v"),
    )
    return _rerank(cand, queries, k, id_col, vec_col, "probe_ivf_index")


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


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _data_files(fs, jvm, dir_path: str) -> list[str]:
    """Names of visible parquet data files directly inside `dir_path`."""
    jdir = jvm.org.apache.hadoop.fs.Path(dir_path)
    if not fs.exists(jdir):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jdir)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]


def _read_json(fs, jvm, path: str) -> dict:
    """Read a small JSON manifest through the Hadoop FS (storage-agnostic:
    file://, s3a://, abfs:// alike)."""
    import json

    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return json.loads(
            bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        )
    finally:
        stream.close()


def _publish_json(fs, jvm, path: str, obj: dict) -> None:
    """Atomically publish a small JSON manifest: write to a dot-tmp
    sibling, then checked-rename into place — readers (and crash
    recovery) see the manifest fully written or not at all."""
    import json
    import os.path

    tmp = f"{os.path.dirname(path)}/.{os.path.basename(path)}.tmp"
    out = fs.create(jvm.org.apache.hadoop.fs.Path(tmp), True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()
    _checked_rename(fs, jvm, tmp, path)


def _checked_rename(fs, jvm, src: str, dest: str) -> None:
    """fs.rename reports most failures (existing destination, missing
    parent) by returning False, not raising — swallowing that here would
    let the final staging delete silently drop the un-moved rows, so a
    False is promoted to an error and the manifest survives for a retry."""
    ok = fs.rename(
        jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dest)
    )
    if not ok:
        raise IOError(f"rename failed (returned false): {src} -> {dest}")


def _complete_swap(spark: SparkSession, path: str, manifest: dict) -> None:
    """Execute (or re-execute after a crash) the staged-cell swap.

    Per cell: delete exactly the OLD destination files the manifest
    recorded at publish time, then move staged files in. Deleting only the
    recorded list (never complement-of-staged) means files appended to a
    cell AFTER the manifest was published — e.g. a streaming-ingest epoch
    that committed before crash recovery ran — are untouchable by
    recovery. Both steps are idempotent: re-running after a crash at any
    point converges to the compacted state with every row present in
    exactly one of destination or staging throughout.
    """
    fs, jvm = _hadoop_fs(spark, path)
    staging = f"{path}/{_STAGING_DIR}"
    old_files = manifest.get("old_files")
    for cell, staged_names in manifest["cells"].items():
        dest = f"{path}/cell={cell}"
        if old_files is not None:
            stale = old_files.get(cell, [])
        else:
            # legacy manifest (pre old_files): complement-of-staged was the
            # only record available; safe only because that format predates
            # concurrent-epoch appends
            staged_set = set(staged_names)
            stale = [
                n for n in _data_files(fs, jvm, dest) if n not in staged_set
            ]
        for name in stale:
            p = jvm.org.apache.hadoop.fs.Path(f"{dest}/{name}")
            if fs.exists(p):
                fs.delete(p, False)
        for name in staged_names:
            src = jvm.org.apache.hadoop.fs.Path(f"{staging}/cell={cell}/{name}")
            if fs.exists(src):  # not yet moved by a previous attempt
                _checked_rename(fs, jvm, f"{staging}/cell={cell}/{name}", f"{dest}/{name}")
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)


def recover_pending_swap(spark: SparkSession, path: str) -> None:
    """Complete (or discard) any compaction swap a crash left behind.

    A published manifest means phase 1 finished — finish the swap; staging
    without a manifest is pre-publish garbage — drop it. Callers that
    append to the index outside `compact_ivf_index` (the streaming epoch
    ingestor) MUST run this before appending, so a pending swap can never
    interleave with files newer than its manifest.
    """
    fs, jvm = _hadoop_fs(spark, path)
    staging = f"{path}/{_STAGING_DIR}"
    manifest_path = jvm.org.apache.hadoop.fs.Path(f"{staging}/{_SWAP_MANIFEST}")
    if fs.exists(manifest_path):  # crashed after publish: finish the swap
        manifest = _read_json(fs, jvm, f"{staging}/{_SWAP_MANIFEST}")
        _complete_swap(spark, path, manifest)
    elif fs.exists(jvm.org.apache.hadoop.fs.Path(staging)):
        # crashed before publish: staging is incomplete garbage
        fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)


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
    * the swap is CRASH-SAFE two-phase commit, never an in-place
      overwrite: compacted copies land in `_compact_staging/` (the
      underscore prefix hides it from index readers), a swap manifest is
      published only after the staging write's job commit, and then old
      files are deleted and staged files renamed in. A crash at any point
      leaves every row in destination or staging; the next compaction
      call first completes a published swap (or discards unpublished
      staging), so no epoch-ledger/replay interaction can lose data.

    Probe results are unchanged by construction (same rows, same cells);
    a probe racing the swap itself can transiently see a thinner cell —
    run compaction from the index's maintenance owner (e.g. between
    ingest epochs), like any table-maintenance operation.

    Returns {"cells_compacted", "files_before", "files_after"}.
    """
    fs, jvm = _hadoop_fs(spark, path)
    staging = f"{path}/{_STAGING_DIR}"
    recover_pending_swap(spark, path)

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

    # Phase 1: compacted copies into staging (job-commit atomic)
    (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(crowded))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    # Phase 2: publish the swap manifest (create is atomic-enough: its
    # presence is the signal and its content was fully written before
    # rename below; partial states are impossible past the rename). The
    # manifest records the EXPLICIT list of pre-compaction files to delete,
    # snapshotted here at publish time — recovery deletes only these, so
    # anything appended to a cell after publish (a committed streaming
    # epoch racing crash recovery) can never be collateral damage.
    import json

    manifest = {
        "cells": {
            str(c): _data_files(fs, jvm, f"{staging}/cell={c}")
            for c in crowded
        },
        "old_files": {
            str(c): _data_files(fs, jvm, f"{path}/cell={c}") for c in crowded
        },
    }
    _publish_json(fs, jvm, f"{staging}/{_SWAP_MANIFEST}", manifest)
    # Phase 3+4: delete old files, move staged in, drop staging
    _complete_swap(spark, path, manifest)
    return {
        "cells_compacted": len(crowded),
        "files_before": files_before,
        "files_after": len(crowded),
    }
