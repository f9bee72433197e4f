"""Persisted cell-partitioned IVF index: asserts the partition-pruning
physical-plan property (the probe reads ONLY the probed cell directories)
plus exact parity with the in-session IVF-flat operator."""

from __future__ import annotations

import contextlib
import glob
import io
import os

from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.ann_index import (
    probe_ivf_index,
    write_ivf_index,
)
from radar_output_restructure_spark.operators.similarity import cosine_topk_ivf
from radar_output_restructure_spark.sources.tables import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ivf_index_prunes_and_matches(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")

    write_ivf_index(emb, centroids, path)
    cell_dirs = sorted(glob.glob(os.path.join(path, "cell=*")))
    assert len(cell_dirs) > 4, cell_dirs  # corpus spreads over many cells

    probed = probe_ivf_index(
        spark, path, queries, centroids, k=5, nprobe=4
    )
    plan = _plan(probed)
    # the cell filter must reach the scan as a partition (not data) filter
    assert "PartitionFilters" in plan
    assert "cell IN" in plan or "cell#" in plan.split("PartitionFilters", 1)[1][:400]

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim) for r in probed.collect()
    }
    expect = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in cosine_topk_ivf(
            emb, queries, centroids, k=5, nprobe=4
        ).collect()
    }
    assert got == expect

    # pruning is physical: 5 queries x nprobe=4 probe at most 20 distinct
    # cells, and any unprobed cell's directory is never listed in the scan
    probed_cells = {
        r.cell
        for r in spark.read.parquet(path)
        .join(
            probed.select("neighbor_id"),
            F.col("vec_id") == F.col("neighbor_id"),
            "leftsemi",
        )
        .select("cell")
        .distinct()
        .collect()
    }
    unprobed = [
        d
        for d in cell_dirs
        if d.rsplit("cell=", 1)[1] not in {str(c) for c in probed_cells}
    ]
    if unprobed:  # at least one cell escaped the probe set
        marker = f"cell={unprobed[0].rsplit('cell=', 1)[1]}"
        scan_section = plan.split("PartitionFilters", 1)[1]
        assert marker not in scan_section


def test_probe_reads_the_query_frame_once(spark, sf_dir, tmp_path):
    """A probe's build+collect runs 6 Spark jobs: the codebook collect, the
    one query collect (the probe cells are ranked on the driver from those
    vectors), the index's schema read, the probe-cell broadcast, the rank
    shuffle and the result. Collecting `ivf_cells(queries)` besides the
    query collect made it 7."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, centroids, path)

    sc = spark.sparkContext
    sc.setJobGroup("ivf-probe", "ivf-probe")
    try:
        rows = probe_ivf_index(
            spark, path, queries, centroids, k=5, nprobe=4
        ).collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 25
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-probe")) == 6


def test_incremental_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """append_ivf_index: base build + delta append produce byte-identical
    index CONTENT ((vec_id, cell) assignments) and probe results to a
    single full build — home-cell assignment is a pure function of the
    frozen centroids, so ingestion order cannot matter."""
    from radar_output_restructure_spark.operators.ann_index import (
        append_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)

    full_path = str(tmp_path / "full")
    incr_path = str(tmp_path / "incr")
    write_ivf_index(emb, centroids, full_path)
    write_ivf_index(emb.filter(F.col("vec_id") < 200), centroids, incr_path)
    append_ivf_index(
        emb.filter(F.col("vec_id") >= 200), centroids, incr_path
    )

    read = lambda p: {  # noqa: E731
        (r.vec_id, r.cell) for r in spark.read.parquet(p).collect()
    }
    assert read(incr_path) == read(full_path)

    probe = lambda p: {  # noqa: E731
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in probe_ivf_index(
            spark, p, queries, centroids, k=5, nprobe=4
        ).collect()
    }
    assert probe(incr_path) == probe(full_path)

    # the delta touched only its own home cells: every delta row's file is
    # distinct from the base files, but lives under an existing cell= dir
    base_files = set(glob.glob(os.path.join(incr_path, "cell=*", "*.parquet")))
    append_ivf_index(
        emb.filter(F.col("vec_id") >= 490), centroids, incr_path
    )
    new_files = (
        set(glob.glob(os.path.join(incr_path, "cell=*", "*.parquet")))
        - base_files
    )
    assert new_files  # append added files without rewriting the base


def test_compact_ivf_index_merges_small_files_probe_identical(
    spark, sf_dir, tmp_path
):
    """compact_ivf_index: after several delta appends, crowded cells carry
    one file per ingestion; compaction rewrites exactly those cells to one
    file each, leaves single-file cells untouched, and changes neither the
    index content nor any probe result."""
    from radar_output_restructure_spark.operators.ann_index import (
        append_ivf_index,
        compact_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")

    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, path)
    for lo, hi in ((150, 300), (300, 450), (450, 10**9)):
        append_ivf_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            centroids,
            path,
        )

    files_per_cell = lambda: {  # noqa: E731
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "cell=*"))
    }
    before = files_per_cell()
    assert any(n > 1 for n in before.values()), before

    content = lambda: {  # noqa: E731
        (r.vec_id, r.cell) for r in spark.read.parquet(path).collect()
    }
    probe = lambda: {  # noqa: E731
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in probe_ivf_index(
            spark, path, queries, centroids, k=5, nprobe=4
        ).collect()
    }
    content_before, probe_before = content(), probe()

    stats = compact_ivf_index(spark, path)
    assert stats["cells_compacted"] == sum(
        1 for n in before.values() if n > 1
    )
    assert stats["files_before"] == sum(n for n in before.values() if n > 1)
    assert stats["files_after"] == stats["cells_compacted"]

    after = files_per_cell()
    assert set(after) == set(before)  # no cell directory appears/vanishes
    assert all(n == 1 for n in after.values()), after
    assert content() == content_before
    assert probe() == probe_before

    # idempotent: a second pass finds nothing crowded and touches nothing
    assert compact_ivf_index(spark, path) == {
        "cells_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }


def test_compact_recovers_from_crash_at_any_phase(spark, sf_dir, tmp_path):
    """Two-phase swap: a crash BEFORE the manifest publish discards the
    incomplete staging; a crash AFTER publish (even mid-swap, old files
    already deleted) is completed by the next call with zero data loss."""
    import json

    from radar_output_restructure_spark.operators.ann_index import (
        _SWAP_MANIFEST,
        _STAGING_DIR,
        append_ivf_index,
        compact_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb.filter(F.col("vec_id") < 300), centroids, path)
    append_ivf_index(emb.filter(F.col("vec_id") >= 300), centroids, path)
    content = lambda: {  # noqa: E731
        (r.vec_id, r.cell) for r in spark.read.parquet(path).collect()
    }
    expected = content()
    staging = os.path.join(path, _STAGING_DIR)

    # crash BEFORE publish: staging exists, no manifest -> discarded
    os.makedirs(os.path.join(staging, "cell=0"))
    with open(os.path.join(staging, "cell=0", "garbage.parquet"), "w") as fh:
        fh.write("partial")
    stats = compact_ivf_index(spark, path)
    assert not os.path.exists(staging)
    assert content() == expected
    assert stats["cells_compacted"] > 0  # the real compaction then ran

    # make cells crowded again, then simulate a crash AFTER publish and
    # mid-swap: stage compacted copies + manifest by hand, delete ALL old
    # files of one crowded cell (rows now exist ONLY in staging)
    append_ivf_index(emb.filter(F.col("vec_id") < 100), centroids, path)
    expected2 = content()
    crowded = sorted(
        d.rsplit("cell=", 1)[1]
        for d in glob.glob(os.path.join(path, "cell=*"))
        if len(glob.glob(os.path.join(d, "*.parquet"))) > 1
    )
    assert crowded
    (
        spark.read.parquet(path)
        .filter(F.col("cell").isin([int(c) for c in crowded]))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    manifest = {
        "cells": {
            c: [
                os.path.basename(f)
                for f in glob.glob(
                    os.path.join(staging, f"cell={c}", "*.parquet")
                )
            ]
            for c in crowded
        }
    }
    with open(os.path.join(staging, _SWAP_MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    victim = crowded[0]
    for f in glob.glob(os.path.join(path, f"cell={victim}", "*.parquet")):
        os.remove(f)  # mid-swap: old files gone, staged not yet moved
    assert content() != expected2  # the index IS currently missing rows

    compact_ivf_index(spark, path)  # recovery completes the swap first
    assert content() == expected2
    assert not os.path.exists(staging)
    for d in glob.glob(os.path.join(path, "cell=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_index_lifecycle_aging_tracks_size_not_append_count(
    spark, sf_dir, tmp_path
):
    """Lifecycle aging (VERDICT r8 item 4, pytest-gated counterpart of
    `scripts/scale_stress.py --ivflife`): an index aged through MANY append
    rounds with compaction interleaved after every round must stay
    rebuild-identical in content, probe results, AND physical plan shape —
    the probe must keep its PartitionFilters pruning, and the file census
    must be bounded by the compaction policy (tracking index size), never
    by the number of append rounds."""
    from radar_output_restructure_spark.operators.ann_index import (
        append_ivf_index,
        compact_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    fresh_path = str(tmp_path / "fresh")
    aged_path = str(tmp_path / "aged")

    write_ivf_index(emb, centroids, fresh_path)

    # age: 10 append rounds of 50 vectors, compaction after every round
    write_ivf_index(emb.filter(F.col("vec_id") < 50), centroids, aged_path)
    rounds = 0
    for lo in range(50, 550, 50):
        append_ivf_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)),
            centroids,
            aged_path,
        )
        compact_ivf_index(spark, aged_path, max_files_per_cell=2)
        rounds += 1

    content = lambda p: {  # noqa: E731
        (r.vec_id, r.cell) for r in spark.read.parquet(p).collect()
    }
    assert content(aged_path) == content(fresh_path)

    probe = lambda p: probe_ivf_index(  # noqa: E731
        spark, p, queries, centroids, k=5, nprobe=4
    )
    rows = lambda p: {  # noqa: E731
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in probe(p).collect()
    }
    assert rows(aged_path) == rows(fresh_path)

    # plan shape is age-invariant and still partition-prunes
    plan_aged, plan_fresh = _plan(probe(aged_path)), _plan(probe(fresh_path))
    assert "PartitionFilters" in plan_aged
    norm = lambda s: [  # noqa: E731
        line.split("(", 1)[0].strip()
        for line in s.splitlines()
        if line.strip().startswith(("*", "+", "-"))
    ]
    assert norm(plan_aged) == norm(plan_fresh)

    # file census tracks the compaction policy, not the append count:
    # every cell holds at most max_files_per_cell files after aging
    per_cell = {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(aged_path, "cell=*"))
    }
    assert rounds == 10
    assert all(n <= 2 for n in per_cell.values()), per_cell


def test_cached_index_path_keys_on_the_assignment_code(tmp_path, monkeypatch):
    """The registry's persisted IVF indexes are cached by path: the path
    changes when the home-cell assignment code does, so an index built by
    older code is never probed."""
    from radar_output_restructure_spark import queries_sim
    from radar_output_restructure_spark.operators import ann_index, similarity

    def paths() -> tuple[str, str]:
        return (
            queries_sim._ivf_index_path(str(tmp_path)),
            queries_sim._ivf_index_path(str(tmp_path), "incr_", "_s300"),
        )

    base = paths()
    assert paths() == base and base[0] != base[1]

    def _codebook_argtop(x, cents, cnorms, t):  # another assignment rule
        return similarity._codebook_argtop(x, cents, cnorms, t)[:, ::-1]

    def write_ivf_index(*args, **kwargs):  # another index writer
        return None

    for module, fn in ((similarity, _codebook_argtop), (ann_index, write_ivf_index)):
        with monkeypatch.context() as m:
            m.setattr(module, fn.__name__, fn)
            changed = paths()
        assert changed[0] != base[0] and changed[1] != base[1]
    assert paths() == base
