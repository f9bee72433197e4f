"""SemDeDup semantic dedup: brute-force parity of the per-cell pairwise
verify + greedy keep rule, and the partition-of-the-corpus invariant."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.similarity import (
    ivf_cells,
    semantic_dedup,
    train_ivf_centroids,
)
from radar_output_restructure_spark.sources.tables import load_table

TAU = 0.4


def _round6(x: float) -> float:
    # Spark HALF_UP on the shortest decimal repr, close enough for the
    # comparisons below (ties at exactly tau are avoided by the data)
    return float(f"{x:.6f}")


def _cos(a, b):
    dot = sq_a = sq_b = 0.0
    for x, y in zip(a, b):
        dot += x * y
        sq_a += x * x
        sq_b += y * y
    return _round6(dot / (math.sqrt(sq_a) * math.sqrt(sq_b)))


def test_semantic_dedup_matches_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, k=8, iters=2)
    out = semantic_dedup(emb, cents, TAU).collect()

    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    cells = {
        r.vec_id: r.cell
        for r in ivf_cells(emb, cents, nprobe=1).collect()
    }

    # the result is a partition of the corpus
    assert sorted(r.vec_id for r in out) == sorted(vecs)

    by_cell: dict[int, list[int]] = {}
    for vid, cell in cells.items():
        by_cell.setdefault(cell, []).append(vid)
    n_dups = {v: 0 for v in vecs}
    dropped = set()
    for members in by_cell.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if _cos(vecs[a], vecs[b]) >= TAU:
                    n_dups[a] += 1
                    n_dups[b] += 1
                    dropped.add(b)

    for r in out:
        assert r.cell == cells[r.vec_id]
        assert r.n_dups == n_dups[r.vec_id], r
        assert r.kept == (0 if r.vec_id in dropped else 1), r

    # non-vacuous on the test corpus and never drops everything
    assert 0 < len(dropped) < len(vecs)


def test_semantic_dedup_drops_exact_duplicates(spark, sf_dir):
    """Two identical vectors always land in one cell and the larger id
    is dropped — the degenerate case SemDeDup exists for."""
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    twin = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    corpus = emb.unionByName(twin)
    cents = train_ivf_centroids(corpus, k=4, iters=2)
    out = {r.vec_id: r for r in semantic_dedup(corpus, cents, 0.999999).collect()}
    assert out[0].kept == 1 and out[0].n_dups >= 1
    assert out[1_000_000].kept == 0 and out[1_000_000].n_dups >= 1


def test_codebook_argtop_matches_dense_fold():
    """The BLAS-shortlist + exact-refold ranking is bit-identical to the
    stable argsort of the dense exact-fold affinity matrix, including
    manufactured exact duplicates and 1e-9 near-ties (the only regime
    where the shortlist margin is load-bearing)."""
    import numpy as np

    from radar_output_restructure_spark.operators.similarity import (
        _codebook_affinities,
        _codebook_argtop,
    )

    rng = np.random.RandomState(7)
    for trial in range(20):
        n, k, dims = rng.randint(50, 300), rng.randint(4, 64), 64
        x = rng.randn(n, dims) * rng.uniform(0.1, 3)
        cents = rng.randn(k, dims)
        cents[1] = cents[0]  # exact duplicate centroid -> tie on cell id
        if k > 3:
            cents[3] = cents[2] * (1 + 1e-9)  # sub-quantum near-tie
        x[0] = cents[0] * 2.0  # a row exactly collinear with a centroid
        cnorms = np.array(
            [
                np.sqrt(sum(float(c[d]) * float(c[d]) for d in range(dims)))
                for c in cents
            ]
        )
        for take in (1, min(4, k)):
            aff = _codebook_affinities(x, cents, cnorms)
            ref = np.argsort(-aff, axis=1, kind="stable")[:, :take]
            got = _codebook_argtop(x, cents, cnorms, take)
            assert np.array_equal(ref, got), (trial, take)


def test_codebook_argtop_zero_norm_rows():
    """Degenerate input guard: zero-norm vectors (and a zero-norm
    centroid) must not shift the shortlist gather — every such row ranks
    all cells tied at affinity 0 and deterministically takes the lowest
    cell ids, and non-degenerate rows are unaffected."""
    import numpy as np

    from radar_output_restructure_spark.operators.similarity import (
        _codebook_argtop,
    )

    rng = np.random.RandomState(11)
    n, k, dims = 12, 6, 8
    x = rng.randn(n, dims)
    x[0] = 0.0          # leading zero row
    x[5] = 0.0          # interior zero row
    x[n - 1] = 0.0      # trailing zero row (the IndexError case)
    cents = rng.randn(k, dims)
    cents[2] = 0.0      # zero-norm centroid
    cnorms = np.sqrt((cents * cents).sum(axis=1))
    for take in (1, 3):
        out = _codebook_argtop(x, cents, cnorms, take)
        assert out.shape == (n, take)
        for zr in (0, 5, n - 1):
            assert list(out[zr]) == list(range(take))  # all-tied -> cell asc
        assert (out >= 0).all() and (out < k).all()


def test_semantic_dedup_query_sizes_k_from_the_footer(
    spark, sf_dir, monkeypatch
):
    """Building semantic_dedup_embeddings runs no count job: k is
    sem_auto_cells of the Parquet footer's row count, which equals the
    table's count. Training is stubbed so the build runs no job at all."""
    from radar_output_restructure_spark.operators import similarity
    from radar_output_restructure_spark.queries_sim import (
        q_semantic_dedup,
        sem_auto_cells,
    )

    ks = []

    def train(emb, k, **kwargs):
        ks.append(k)
        return emb

    monkeypatch.setattr(similarity, "train_ivf_centroids", train)
    monkeypatch.setattr(similarity, "semantic_dedup", lambda emb, *a: emb)
    emb = load_table(spark, sf_dir, "embeddings")  # session schema cache
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    q_semantic_dedup(spark, sf_dir)
    assert set(tracker.getJobIdsForGroup(None)) == jobs
    assert ks == [sem_auto_cells(emb.count())]
