"""operators/similarity: every top-k entry point of the query-vs-corpus
cosine core against a NumPy brute force, plus the moved top-k tests."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.ann_index import (
    probe_ivf_index,
    write_ivf_index,
)
from radar_output_restructure_spark.operators.similarity import (
    cosine_range_search,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_ivfpq,
    cosine_topk_lsh,
    cosine_topk_lsh_multiprobe,
    cosine_topk_pq,
    exact_rerank,
)

DIMS = 8
K = 5
ZERO, TIED = 5, (8, 9)  # a zero vector; two identical vectors
QUERIES = (0, ZERO, TIED[0], 21)
NULL_LABELS = (3, 8, 17)


def _vec(i: int) -> list[float]:
    if i == ZERO:
        return [0.0] * DIMS
    base = TIED[0] if i == TIED[1] else i
    return [math.sin(base * 0.7 + d * 1.3) for d in range(DIMS)]


VECS = {i: _vec(i) for i in range(40)}
LABELS = {i: None if i in NULL_LABELS else i % 3 for i in VECS}


def _round6(x: float) -> float:
    """Spark's round(x, 6): the shortest decimal of x, HALF_UP."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _sim(a: int, b: int) -> float:
    """Cosine folded left to right over dimensions, zero norms read as 1."""
    dot = sa = sb = 0.0
    for x, y in zip(VECS[a], VECS[b]):
        dot += x * y
        sa += x * x
        sb += y * y
    return _round6(dot / ((math.sqrt(sa) or 1.0) * (math.sqrt(sb) or 1.0)))


def _brute_topk(exclude_label: bool = False) -> list[tuple]:
    out = []
    for q in QUERIES:
        nbrs = [
            (_sim(q, n), n)
            for n in VECS
            if n != q and not (exclude_label and LABELS[n] == LABELS[q])
        ]
        nbrs.sort(key=lambda t: (-t[0], t[1]))
        out += [(q, n, s, r) for r, (s, n) in enumerate(nbrs[:K], start=1)]
    return sorted(out)


def _rows(df) -> list[tuple]:
    cols = ["query_id", "neighbor_id", "sim", "rank"]
    return sorted(tuple(r[c] for c in cols if c in df.columns) for r in df.collect())


def _frames(spark, parts: int):
    emb = spark.createDataFrame(
        [Row(vec_id=i, label=LABELS[i], embedding=v) for i, v in VECS.items()],
        "vec_id long, label long, embedding array<double>",
    )
    return emb.repartition(parts), emb.filter(F.col("vec_id").isin(*QUERIES))


def _case_cosine_topk(spark, corpus, queries, tmp_path):
    return _rows(cosine_topk(corpus, queries, k=K)), _brute_topk()


def _case_cosine_topk_labels(spark, corpus, queries, tmp_path):
    got = cosine_topk(corpus, queries, k=K, exclude_label_col="label")
    return _rows(got), _brute_topk(exclude_label=True)


def _case_exact_rerank(spark, corpus, queries, tmp_path):
    full = corpus.select(F.col("vec_id").alias("neighbor_id")).crossJoin(
        queries.select(F.col("vec_id").alias("query_id"))
    )
    return _rows(exact_rerank(corpus, queries, full, k=K)), _brute_topk()


def _case_ivf(spark, corpus, queries, tmp_path):
    cents = corpus.filter(F.col("vec_id") < 6)
    got = cosine_topk_ivf(corpus, queries, cents, k=K, nprobe=6)
    return _rows(got), _brute_topk()


def _case_probe_ivf_index(spark, corpus, queries, tmp_path):
    cents = corpus.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    got = probe_ivf_index(spark, path, queries, cents, k=K, nprobe=6)
    return _rows(got), _brute_topk()


def _case_multiprobe_one_plane(spark, corpus, queries, tmp_path):
    # one plane: the own bucket plus its one flipped bit is every bucket
    got = cosine_topk_lsh_multiprobe(corpus, queries, k=K, num_planes=1, dims=DIMS)
    return _rows(got), _brute_topk()


def _case_lsh_sims(spark, corpus, queries, tmp_path):
    lsh = cosine_topk_lsh(
        corpus, queries, k=K, num_planes=2, num_tables=2, dims=DIMS
    )
    got = _rows(lsh)
    assert got
    by_query: dict[int, list] = {}
    for q, n, s, r in got:
        by_query.setdefault(q, []).append((-s, n, r))
    for q, ranked in by_query.items():
        ranked.sort()
        assert [r for _, _, r in ranked] == list(range(1, len(ranked) + 1))
    return got, [(q, n, _sim(q, n), r) for q, n, _, r in got if n != q]


def _case_ivfpq_all_cells(spark, corpus, queries, tmp_path):
    cents = corpus.filter(F.col("vec_id") < 6)
    pq = dict(k=K, m=2, codebook_k=4, iters=2, dims=DIMS)
    got = cosine_topk_ivfpq(corpus, queries, cents, nprobe=6, **pq)
    return _rows(got), _rows(cosine_topk_pq(corpus, queries, **pq))


def _case_range_search(spark, corpus, queries, tmp_path):
    want = sorted(
        (q, n, _sim(q, n))
        for q in QUERIES
        for n in VECS
        if n != q and _sim(q, n) >= 0.3
    )
    return _rows(cosine_range_search(corpus, queries, 0.3)), want


CASES = {
    name[len("_case_"):]: fn
    for name, fn in list(globals().items())
    if name.startswith("_case_")
}


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("case", sorted(CASES))
def test_topk_matches_bruteforce(spark, tmp_path, case, parts):
    """Each entry point equals the sequential-fold brute force (or, where
    it is approximate, the exact operator it must reduce to) on a corpus
    with a zero vector and a tied pair, whatever the partitioning."""
    corpus, queries = _frames(spark, parts)
    got, want = CASES[case](spark, corpus, queries, tmp_path)
    assert got == want


def test_exact_rerank_scores_only_collected_queries(spark):
    """A shortlist row whose query is not in the query set is dropped, not
    emitted with a NULL sim and a rank."""
    corpus, _ = _frames(spark, 1)
    queries = corpus.filter(F.col("vec_id") < 3)
    shortlist = spark.createDataFrame(
        [(7, 12), (7, 13), (1, 12)], "query_id long, neighbor_id long"
    )
    got = _rows(exact_rerank(corpus, queries, shortlist, k=K))
    assert got == [(1, 12, _sim(1, 12), 1)]


def test_cosine_topk(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, schema="vec_id int, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(1, 1), (2, 2)]


def test_cosine_topk_int8(spark):
    import math

    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_int8,
        int8_code_vectors,
    )

    rows = [
        Row(vec_id=i, embedding=[((i * 7 + d * 3) % 11 - 5) / 5.0 for d in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    got = cosine_topk_int8(df, df.filter("vec_id < 3"), k=4).collect()
    # reference: quantize via the operator itself, then exact integer math
    codes = {r.vec_id: [int(x) for x in r.q] for r in int8_code_vectors(df).collect()}

    def sim(a, b):
        dot = sum(x * y for x, y in zip(codes[a], codes[b]))
        na = math.sqrt(sum(x * x for x in codes[a]))
        nb = math.sqrt(sum(x * x for x in codes[b]))
        return dot / (na * nb)

    for qid in range(3):
        expect = sorted(
            ((round(sim(qid, n), 6), n) for n in codes if n != qid),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        mine = sorted(
            [(r.sim, r.neighbor_id, r.rank) for r in got if r.query_id == qid],
            key=lambda t: t[2],
        )
        assert [(s, n) for s, n, _ in mine] == expect
        assert [r for _, _, r in mine] == [1, 2, 3, 4]
    # self-matches excluded
    assert all(r.query_id != r.neighbor_id for r in got)


def test_pq_encode_and_topk_deterministic(spark):
    """PQ codes are valid cell ids, stable under re-partitioning, and the
    ADC top-k ranks self-consistently (rank 1..k per query, sims
    non-increasing)."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_pq,
        pq_encode,
        train_pq_codebooks,
    )

    dims, m, cbk = 16, 4, 4
    emb = spark.createDataFrame(
        [
            Row(
                vec_id=i,
                embedding=[
                    float(((i * 31 + d * 17) % 13) - 6) / 4.0
                    for d in range(dims)
                ],
            )
            for i in range(60)
        ]
    )
    cbs = train_pq_codebooks(emb, m=m, codebook_k=cbk, iters=2, dims=dims)
    assert len(cbs) == m and all(len(cb) == cbk for cb in cbs)
    assert all(len(c) == dims // m for cb in cbs for c in cb)

    codes = pq_encode(emb, cbs).collect()
    assert len(codes) == 60
    for r in codes:
        for s in range(m):
            assert 0 <= r[f"code_{s}"] < cbk
    codes2 = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(m))
        for r in pq_encode(emb.repartition(5), cbs).collect()
    }
    assert codes2 == {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(m)) for r in codes
    }

    topk = cosine_topk_pq(
        emb,
        emb.filter(F.col("vec_id") < 3),
        k=4,
        m=m,
        codebook_k=cbk,
        iters=2,
        dims=dims,
    ).collect()
    by_q: dict[int, list] = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != r.query_id for r in rows)


def test_exact_rerank_recovers_exact_topk(spark):
    """exact_rerank over a shortlist that CONTAINS the true top-k must
    return exactly the brute-force ranking (exact sims, exact order); a
    shortlist missing a true neighbor degrades gracefully to the best
    available candidates."""
    import math

    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk,
        exact_rerank,
    )

    rng = [(i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in rng],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 2)
    exact = cosine_topk(emb, queries, k=3)
    expected = sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rank) for r in exact.collect()
    )

    # full shortlist (everything): rerank == exact
    full = emb.crossJoin(
        queries.select(F.col("vec_id").alias("query_id"))
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    got = sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in exact_rerank(emb, queries, full, k=3).collect()
    )
    assert got == expected

    # shortlist missing one true neighbor: the remaining candidates rank
    # in exact order without it
    drop = expected[0][1]
    partial = full.filter(
        ~((F.col("query_id") == expected[0][0]) & (F.col("neighbor_id") == drop))
    )
    got2 = {
        (r.query_id, r.rank): r.neighbor_id
        for r in exact_rerank(emb, queries, partial, k=3).collect()
    }
    assert drop not in [
        v for (q, _rk), v in got2.items() if q == expected[0][0]
    ]


def test_lsh_bucket_schema_and_range(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        hyperplane_lsh_buckets,
    )

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + d) % 5 - 2) for d in range(16)])
         for i in range(20)]
    )
    out = hyperplane_lsh_buckets(df, num_planes=6, dims=16, num_tables=3)
    assert dict(out.dtypes)["bucket"] == "bigint"
    rows = out.collect()
    assert len(rows) == 20 * 3
    assert all(0 <= r.bucket < 2**6 for r in rows)
    assert {r.table for r in rows} == {0, 1, 2}


def test_cosine_topk_zero_norm_vector_is_deterministic(spark):
    """A zero-norm corpus vector must score sim 0.0 (never NaN, which ranks
    differently in numpy's batch prune vs Spark's window)."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk,
    )

    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0]),  # degenerate
            Row(vec_id=3, embedding=[0.9, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [Row(vec_id=10, embedding=[1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["neighbor_id"]: r["sim"]
        for r in cosine_topk(corpus, queries, k=3).collect()
    }
    assert out[2] == 0.0  # not NaN, not rank-1
    assert out[1] == 1.0


def test_multiprobe_lsh_never_below_single_probe(spark, sf_dir):
    """Multi-probe candidates are a SUPERSET of single-probe candidates at
    the same (planes, tables), so per-query best-sim can only improve."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_lsh,
        cosine_topk_lsh_multiprobe,
    )
    from radar_output_restructure_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    single = cosine_topk_lsh(emb, queries, k=3, num_planes=4, num_tables=3)
    multi = cosine_topk_lsh_multiprobe(
        emb, queries, k=3, num_planes=4, num_tables=3
    )
    best_s = {r.query_id: r.sim for r in single.filter("rank = 1").collect()}
    best_m = {r.query_id: r.sim for r in multi.filter("rank = 1").collect()}
    assert set(best_s) <= set(best_m)  # probes only add candidates
    for qid, s in best_s.items():
        assert best_m[qid] >= s
    n_cand_m = multi.count()
    n_cand_s = single.count()
    assert n_cand_m >= n_cand_s


# ---------------------------------------------------------------------------
# near-dup verifier (near_dup_pairs_from_buckets)
# ---------------------------------------------------------------------------


def _verified(rows, threshold: float, *chunk_pairs: int) -> list:
    from radar_output_restructure_spark.operators.similarity import (
        near_dup_pairs_from_buckets,
    )

    return sorted(
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in near_dup_pairs_from_buckets(rows, threshold, *chunk_pairs).collect()
    )


def _bucket_rows(spark, buckets: dict, id_type: str = "string", tables=None):
    """(table, bucket, vec_id, __v, buckets) rows, one per vector and table
    as the LSH bucketizer's posexplode emits them, for vectors of `VECS`
    with their per-table bucket arrays `buckets`; `tables` restricts the
    rows to some tables (the arrays stay whole)."""
    cast = str if id_type == "string" else int
    return spark.createDataFrame(
        [
            (t, b, cast(i), VECS[i], bs)
            for i, bs in buckets.items()
            for t, b in enumerate(bs)
            if tables is None or t in tables
        ],
        f"table int, bucket bigint, vec_id {id_type}, __v array<double>,"
        " buckets array<bigint>",
    )


def test_near_dup_verifier_matches_per_pair_model(spark):
    """The Arrow verifier against a pure-Python per-pair model
    (left-to-right fold, zero norms read as 1, Spark's round): string ids
    (whose order is not the integer order), a zero-norm vector, a one-row
    bucket, pairs found in two tables, and a bucket split into blocks by
    `chunk_pairs=7`. Each pair comes out once."""
    members = {
        (0, 0): range(12),  # ZERO and the TIED pair; 66 pairs, many blocks
        (0, 1): [20],  # one row: no pair
        (1, 0): [*TIED, 3, 30],  # the TIED pair again, in another table
        (1, 3): [31, 32, 33],
    }
    # a vector outside a listed bucket sits alone in a bucket of its own
    buckets = {i: [100 + i, 100 + i] for ids in members.values() for i in ids}
    for (t, b), ids in members.items():
        for i in ids:
            buckets[i][t] = b
    rows = _bucket_rows(spark, buckets)
    threshold = 0.0
    want = set()
    for ids in members.values():
        for a in ids:
            for b in ids:
                if str(a) < str(b) and _sim(a, b) >= threshold:
                    want.add((str(a), str(b), _sim(a, b)))
    assert ("1", str(ZERO), 0.0) in want  # zero vector: sim 0.0, never NaN
    for chunk in (7, 1 << 21):
        got = _verified(rows, threshold, chunk)
        assert len(got) == len(set(got))
        assert set(got) == want


def test_near_dup_pair_belongs_to_its_first_colliding_table(spark):
    """A pair colliding in tables 0 and 2 comes out once; a pair colliding
    only in table 2 comes out once, from table 2. Table 2's copy of the
    first pair defers to table 0 even when only table 2's rows are
    verified."""
    buckets = {
        1: [7, 50, 9],  # (1, 2) share tables 0 and 2
        2: [7, 51, 9],
        3: [60, 61, 4],  # (3, 4) share table 2 only
        4: [62, 63, 4],
    }
    both, late = (1, 2, _sim(1, 2)), (3, 4, _sim(3, 4))
    assert _verified(_bucket_rows(spark, buckets, "long"), -1.0) == [both, late]
    only2 = _bucket_rows(spark, buckets, "long", tables={2})
    assert _verified(only2, -1.0) == [late]


def test_near_dup_verifier_holds_groups_across_arrow_batches(spark):
    """With 3-row Arrow batches every group of 2+ rows spans batches; the
    verifier holds a batch's last group over to the next batch and gives
    the same pairs as with the default batch size."""
    sizes = [1, 2, 3, 4, 5, 7, 2, 1, 8, 3]
    buckets, i = {}, 0
    for b, m in enumerate(sizes):
        for _ in range(m):
            buckets[i] = [b, 200 + i]  # table 1: every vector alone
            i += 1
    rows = _bucket_rows(spark, buckets, "long")
    want = _verified(rows, -1.0)
    assert len(want) == sum(m * (m - 1) // 2 for m in sizes)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert _verified(rows, -1.0) == want
        assert _verified(rows, -1.0, 4) == want
    finally:
        spark.conf.set(key, old)


def test_near_dup_pairs_chunked_generation_matches_single_chunk(spark):
    """Per-block pair generation must emit the identical pair set as one
    big block: a 24-row bucket (276 pairs) larger than `chunk_pairs` splits
    by anchor rows, and twenty 3-row buckets (3 pairs each) pack into
    shared blocks."""
    groups = [(0, 24)] + [(1 + g, 3) for g in range(20)]
    data, i = [], 0
    for bucket, m in groups:
        for _ in range(m):
            data.append(
                (0, bucket, i, [float(i % 4 + 1), float((i * 7) % 5 + 1)], [bucket])
            )
            i += 1
    rows = spark.createDataFrame(
        data,
        "table int, bucket int, vec_id long, __v array<double>, buckets array<int>",
    )
    big = _verified(rows, 0.2)  # single block covers all 336 pairs
    for chunk in (7, 100):  # anchors split mid-row-range; small buckets packed
        assert _verified(rows, 0.2, chunk) == big
    assert len(big) == 276 + 20 * 3  # positive 2-d vectors: every cos > 0.4


def test_arrow_matrix_rejects_ragged_and_null_vectors():
    """A ragged vector column must not be reshaped into wrong vectors, and
    a NULL vector must not fail as a bare reshape error."""
    import pyarrow as pa

    from radar_output_restructure_spark.operators.similarity import _arrow_matrix

    good = _arrow_matrix(pa.array([[1, 2], [3, 4]]))
    assert good.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    with pytest.raises(ValueError, match="ragged"):
        _arrow_matrix(pa.array([[1, 2, 3], [4], [5, 6]]))
    with pytest.raises(ValueError, match="NULL"):
        _arrow_matrix(pa.chunked_array([[[1.0, 2.0]], [None, [3.0, 4.0]]]))


def test_near_dup_bucket_verify_matches_column_form(spark):
    """The LSH near-dup (one bucketizer scan carrying the vectors, then the
    per-bucket verifier) must reproduce the Column-expression plan (bucket
    self-join -> HOF cosine per pair) bit-for-bit: same pairs, same rounded
    sims, across multi-table collisions and sub-threshold drops."""
    from radar_output_restructure_spark.operators.similarity import (
        _dot,
        _norm,
        hyperplane_lsh_buckets,
        lsh_bucket_vectors,
    )

    emb = spark.createDataFrame(
        [
            Row(
                vec_id=i,
                embedding=[
                    float(((i * 13 + d * 7) % 11) - 5) / 3.0 for d in range(16)
                ],
            )
            for i in range(40)
        ]
    )
    threshold = 0.2
    got = _verified(
        lsh_bucket_vectors(emb, num_planes=3, dims=16, num_tables=2), threshold
    )

    cb = hyperplane_lsh_buckets(emb, num_planes=3, dims=16, num_tables=2)
    cand = (
        cb.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
        .join(
            cb.select(F.col("vec_id").alias("vec_b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("nb"),
    )
    want = sorted(
        (r.vec_a, r.vec_b, r.sim)
        for r in cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .collect()
    )
    assert got == want
    assert len(got) > 0  # the fixture must actually exercise collisions
