"""Similarity search over embedding columns (`array<float>`).

Every top-k operator here answers the same question: score a driver-small
query set against the corpus, prune, then rank by (sim desc, neighbor_id
asc). One private core does each of those steps once:

* `_collect_queries`  — the one collect of the query set (ids, exact
                        Python-float vectors, zero-guarded norms). Every
                        scorer and re-ranker takes this tuple; the IVF
                        operators rank the queries' probe cells from it
                        on the driver (`_probe_cells`), the LSH operators
                        hash the queries' buckets (`_bucket_candidates`).
* `_scan`             — the one map-only query-vs-corpus scan: a per-batch
                        (n, nq) similarity matrix, an optional validity
                        mask, then either the local top-k prune or a
                        threshold. `cosine_topk` (label mask included),
                        `cosine_topk_int8`, `cosine_topk_pq` and
                        `cosine_range_search` differ only in their scorer.
* `_rerank`           — the one exact re-ranker over (query_id,
                        neighbor_id, vector) candidate rows. `exact_rerank`,
                        both LSH operators (`_bucket_candidates`),
                        `cosine_topk_ivf` and the persisted IVF probe end
                        in it.
* `_rank_topk`        — the one (sim desc, neighbor_id asc) rank tail.
* `_codebook`, `_pq_coder`, `_adc_scorer` — the coarse codebook arrays,
                        the PQ encoder and the one ADC accumulation shared
                        by PQ and IVF-PQ.

Dot products fold left-to-right in DOUBLE over dimensions, so an oracle
that folds the same order (DuckDB list reduction) reproduces results
bit-for-bit; sims round to 6 decimals Spark-exactly (`_round6_spark`) and
neighbor_id breaks ties, so rankings stay deterministic anyway.
"""

from __future__ import annotations

from math import sqrt as math_sqrt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import driver_gate


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, folded left-to-right in double
    (zip_with+aggregate: the fold runs on primitive double arrays inside
    the JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _milli(x: Column, scale: int) -> Column:
    """round(x * scale) as an exact BIGINT: the quantized element of the
    centroid and projection operators."""
    return F.round(x.cast("double") * scale, 0).cast("long")


def _vectors(pdf, col: str = "__v"):
    """The (n, dims) float64 matrix of one Arrow batch's vector column."""
    import numpy as np

    return np.stack(pdf[col].to_numpy()).astype(np.float64)


def _arrow_matrix(col, dtype="float64"):
    """The (n, dims) `dtype` matrix of an Arrow list column (an Array or a
    ChunkedArray of equal-length vectors): one flatten and one reshape, no
    per-row objects. Raises ValueError on a NULL vector or on vectors of
    different lengths, which a bare reshape would fail on or silently
    regroup into wrong rows."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(col)
    if lengths.null_count:
        raise ValueError(f"vector column holds {lengths.null_count} NULL vector(s)")
    span = pc.min_max(lengths)
    lo, hi = span["min"].as_py() or 0, span["max"].as_py() or 0
    if lo != hi:
        raise ValueError(f"vector column is ragged: lengths from {lo} to {hi}")
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    return flat.reshape(len(col), hi).astype(dtype)


def _seq_norms(lists):
    """Norms of exact Python-float vectors, each folded left-to-right
    (`_seq_sq_sum`), unguarded."""
    import numpy as np

    return np.array([math_sqrt(_seq_sq_sum(v)) for v in lists])


def _collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    caller: str,
    label_col: str | None = None,
):
    """The driver-small query set every scorer ships in its closure: ONE
    collect of (qid, qv[, ql]) sorted by qid. Returns (q_ids, q_lists,
    q_norms, q_labels): q_lists are exact Python-float lists so
    `_seq_sq_sum` and `_adc_scorer` fold in the oracle's order, q_norms
    carry the zero-norm guard, q_labels is None without `label_col`.
    Raises on an empty query set."""
    import numpy as np

    cols = [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")]
    if label_col is not None:
        cols.append(F.col(label_col).alias("ql"))
    rows = sorted(queries.select(*cols).collect(), key=lambda r: r.qid)
    if not rows:
        raise ValueError(f"{caller} requires a non-empty query set")
    q_lists = [[float(x) for x in r.qv] for r in rows]
    q_norms = _seq_norms(q_lists)
    labels = [r.ql for r in rows] if label_col is not None else None
    return (
        np.array([r.qid for r in rows]),
        q_lists,
        np.where(q_norms == 0.0, 1.0, q_norms),
        labels,
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) with rank <= k: the one ranking
    tail of every top-k operator. (sim desc, neighbor_id asc) is a strict
    total order, so ranks never depend on partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _scan(
    frame: DataFrame,
    q_ids,
    score,
    k: int | None = None,
    threshold: float | None = None,
    mask=None,
) -> DataFrame:
    """The one map-only query-vs-corpus scan. `frame` holds `vec_id` plus
    whatever `score` reads; per Arrow batch `score(pdf)` returns the
    (n, nq) rounded sims against `q_ids` and `mask(pdf)`, when given, an
    (n, nq) validity matrix. Self-matches are never emitted.

    With `k`, each batch keeps only its LOCAL top-k per query — safe
    because (sim desc, neighbor_id asc) is a strict total order, so the
    global top-k is contained in the union of batch top-ks — and
    `_rank_topk` ranks tasks x queries x k rows: the ranking shuffle
    carries kilobytes whatever the corpus size. With `threshold`, every
    valid pair with sim >= threshold is emitted and nothing is ranked, so
    the whole cost is one corpus scan.
    """
    import numpy as np
    import pandas as pd

    id_type = frame.schema["vec_id"].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = score(pdf)
            ok = mask(pdf) if mask is not None else None
            nbr = pdf["vec_id"].to_numpy()
            qcol, ncol, scol = [], [], []
            for j, qid in enumerate(q_ids):
                keep = nbr != qid
                if ok is not None:
                    keep &= ok[:, j]
                if threshold is not None:
                    keep &= sims[:, j] >= threshold
                sims_j, nbr_j = sims[keep, j], nbr[keep]
                if k is not None:
                    take = np.lexsort((nbr_j, -sims_j))[:k]
                    sims_j, nbr_j = sims_j[take], nbr_j[take]
                qcol.append(np.repeat(qid, len(nbr_j)))
                ncol.append(nbr_j)
                scol.append(sims_j)
            if sum(map(len, ncol)):
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(qcol),
                        "neighbor_id": np.concatenate(ncol),
                        "sim": np.concatenate(scol),
                    }
                )

    out = frame.mapInPandas(
        run, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )
    return out if k is None else _rank_topk(out, k)


def _rerank(cand: DataFrame, q: tuple, k: int) -> DataFrame:
    """The one exact candidate re-ranker: (query_id, neighbor_id, __v)
    rows scored against their own query of the `_collect_queries` tuple
    `q` with the oracle's sequential per-dimension fold, then `_rank_topk`.

    Batch rows are grouped by query and each group folds against that one
    query (the `_codebook_argtop` grouped-recompute trick): a dense
    (n, nq) matrix would spend nq x the FLOPs to keep one column per row.
    The single-column `_codebook_affinities` performs the identical IEEE
    operations, so the scores equal the dense form bit for bit. Only
    pairs whose query is in the collected set are scored, and
    self-matches are dropped like everywhere in this module.
    """
    import numpy as np
    import pandas as pd

    q_ids, q_lists, q_norms, _ = q
    q_arr = np.array(q_lists, dtype=np.float64)
    q_index = {q: j for j, q in enumerate(q_ids)}
    nq = len(q_ids)

    def score(batches):
        for pdf in batches:
            qidx = pdf["query_id"].map(q_index).fillna(-1).to_numpy()
            keep = (qidx >= 0) & (
                pdf["query_id"].to_numpy() != pdf["neighbor_id"].to_numpy()
            )
            if not keep.any():
                continue
            pdf, qidx = pdf[keep], qidx[keep].astype(np.int64)
            x = _vectors(pdf)
            sims = np.empty(len(pdf))
            order = np.argsort(qidx, kind="stable")
            bounds = np.searchsorted(qidx[order], np.arange(nq + 1))
            for j in range(nq):
                rows_j = order[bounds[j] : bounds[j + 1]]
                if len(rows_j):
                    sims[rows_j] = _codebook_affinities(
                        x[rows_j], q_arr[j : j + 1], q_norms[j : j + 1]
                    )[:, 0]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "sim": sims,
                }
            )

    id_type = cand.schema["neighbor_id"].dataType.simpleString()
    scored = cand.select("query_id", "neighbor_id", "__v").mapInPandas(
        score, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )
    return _rank_topk(scored, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    (query_id, neighbor_id, sim, rank); self-matches excluded. With
    `exclude_label_col`, corpus rows sharing the query's label are ALSO
    excluded — the hard-negative-mining mode (contrastive training wants,
    per anchor, the most-similar vectors of a DIFFERENT class: negatives
    the model currently confuses). Same map-only scan either way — the
    label test is the `_scan` validity mask.

    MAP-ONLY scoring with per-batch pruning (`_scan`): the query set is
    driver-small by contract, so it is collected once and scored inside a
    mapInPandas closure with the oracle's exact fold order
    (`_codebook_affinities` — the machinery the IVF coarse quantizer
    already uses). The earlier plan windowed ALL corpus x queries scored
    rows (one corpus-sized shuffle per run — at 100 TB that shuffle IS the
    job); this one shuffles kilobytes regardless of corpus size.
    """
    import numpy as np
    import pandas as pd

    # ONE collect of (qid, qv[, label]): a second collect for the labels
    # would recompute a nondeterministic query frame (sample()/limit() over
    # an unordered source) into a DIFFERENT row set — KeyError at best, a
    # silently wrong exclusion mask at worst — and doubles the driver pull.
    q_ids, q_lists, q_norms, q_labels = _collect_queries(
        queries, id_col, vec_col, "cosine_topk", exclude_label_col
    )
    q_arr = np.array(q_lists, dtype=np.float64)
    cols = [F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")]
    mask = None
    if exclude_label_col is not None:
        cols.append(F.col(exclude_label_col).alias("__l"))

        def mask(pdf):
            # IS DISTINCT FROM semantics, pinned against the oracle: NULL
            # label vs NULL label = SAME class (excluded); NULL vs anything
            # else = different (kept). Arrow hands int labels with NULLs to
            # pandas as float NaN, where plain != would call NaN != NaN
            # True and diverge.
            lbl = pdf["__l"].to_numpy()
            na = pd.isna(lbl)
            return np.stack(
                [
                    ~na
                    if ql is None or (isinstance(ql, float) and ql != ql)
                    else na | (lbl != ql)
                    for ql in q_labels
                ],
                axis=1,
            )

    return _scan(
        corpus.select(*cols),
        q_ids,
        lambda pdf: _codebook_affinities(_vectors(pdf), q_arr, q_norms),
        k=k,
        mask=mask,
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All corpus neighbors within a cosine radius of each query vector:
    (query_id, neighbor_id, sim) for every sim >= threshold, self-matches
    excluded — the radius-search counterpart of `cosine_topk` (dedup
    candidate generation, recall-oriented retrieval evaluation).

    STRICTLY MAP-ONLY — even the top-k's kilobyte ranking shuffle is gone:
    `_scan` decides the threshold per row inside the scoring closure, so
    the operator's entire cost is one corpus scan regardless of corpus
    size, and its output is exactly the matching pairs. Scores are
    `cosine_topk`'s (`_codebook_affinities`, round-6), so the >=
    comparison happens on engine-identical doubles.
    """
    import numpy as np

    q_ids, q_lists, q_norms, _ = _collect_queries(
        queries, id_col, vec_col, "cosine_range_search"
    )
    q_arr = np.array(q_lists, dtype=np.float64)
    return _scan(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
        q_ids,
        lambda pdf: _codebook_affinities(_vectors(pdf), q_arr, q_norms),
        threshold=threshold,
    )


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-3, 3].

    md5-seeded so every (plane, dim) cell is decorrelated. The previous
    linear-congruential family ((plane*97 + dim*31) % 7 - 3) was periodic in
    `plane` mod 7: only SEVEN distinct hyperplanes existed no matter how many
    planes/tables were configured, so multi-table recall (1-(1-p)^L assumes
    independent tables) was silently correlated and `auto_num_planes` beyond
    7 bits added no bucket diversity (<=128 distinct buckets at any scale).
    The weights are computed driver-side only and enter BOTH engines as
    literals (packed arrays in Spark, inlined constants in the SQL oracle),
    so any pure-Python definition keeps the two bit-identical.
    """
    import hashlib

    digest = hashlib.md5(f"plane:{plane}:{dim}".encode()).digest()
    return (int.from_bytes(digest[:4], "big") % 7) - 3


def _lsh_kernel(num_planes: int, dims: int, num_tables: int):
    """`buckets(x)`: the (n, num_tables) int64 b-bit sign hashes of the
    float64 rows `x` — the one hyperplane bucket kernel, run per Arrow
    batch by the bucketizers and on the driver for collected queries.

    Bit-exactness vs the SQL oracle is preserved by construction: the
    accumulation loops over DIMENSIONS sequentially (acc += v[d] * w[p,d]
    for d = 0..dims-1, vectorized across rows and planes), which performs
    the identical left-to-right IEEE-double fold as the oracle's unrolled
    `0.0 + v[1]*w + v[2]*w + ...` per plane — never numpy's blocked/
    pairwise `@` matmul, whose different rounding could flip a
    near-boundary sign.

    Buckets assemble from the sign bits with int64 ops (bucket_t =
    sum 2^i * bit[t*b+i]), so plane counts up to 31 cannot overflow. Planes
    are deduplicated by weight vector first, so a hash family that repeats
    planes costs one projection per DISTINCT plane.
    """
    import numpy as np

    total = num_tables * num_planes
    weights = [
        tuple(float(_plane_weight(p, d)) for d in range(dims)) for p in range(total)
    ]
    distinct: dict[tuple[float, ...], int] = {}
    slot_of: list[int] = []  # plane index -> 0-based row in the distinct matrix
    for w in weights:
        if w not in distinct:
            distinct[w] = len(distinct)
        slot_of.append(distinct[w])
    w_mat = np.array(list(distinct), dtype=np.float64)  # (n_distinct, dims)
    slots = np.array(slot_of, dtype=np.int64).reshape(num_tables, num_planes)
    powers = 2 ** np.arange(num_planes, dtype=np.int64)

    def buckets(x):
        acc = np.zeros((x.shape[0], w_mat.shape[0]), dtype=np.float64)
        for d in range(dims):  # sequential over dims == the oracle's fold
            acc += x[:, d : d + 1] * w_mat[:, d]
        bits = (acc > 0).astype(np.int64)  # (n, n_distinct)
        return (bits[:, slots] * powers).sum(axis=2)  # (n, tables)

    return buckets


def _lsh_bucket_rows(
    df: DataFrame,
    num_planes: int,
    dims: int,
    id_col: str,
    vec_col: str,
    num_tables: int,
    carry: tuple[str, ...],
) -> DataFrame:
    """(*carry, buckets, table, bucket): one `mapInArrow` pass of
    `_lsh_kernel` over (vec_id, __v) that emits the `carry` columns with
    each row's array of per-table buckets; the JVM `posexplode`s that array
    into (table, bucket) beside it. Map-only: at 100 TB it runs
    embarrassingly parallel with zero shuffle."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    kernel = _lsh_kernel(num_planes, dims, num_tables)
    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    schema = StructType(
        [src.schema[c] for c in carry]
        + [StructField("buckets", ArrayType(LongType(), False), False)]
    )

    def bucketize(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = pa.array(kernel(_arrow_matrix(batch.column("__v"))).reshape(-1))
            offsets = pa.array(np.arange(0, n * num_tables + 1, num_tables, np.int32))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in carry]
                + [pa.ListArray.from_arrays(offsets, flat)],
                names=[*carry, "buckets"],
            )

    return src.mapInArrow(bucketize, schema).select(
        *carry, "buckets", F.posexplode("buckets").alias("table", "bucket")
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """(vec_id, table, bucket): b-bit sign hash per hash table.

    Multiple independent tables (plane sets) are the standard recall lever:
    a ~0.4-cosine neighbor colliding with p per table is found with
    1-(1-p)^L overall. Table t uses planes [t*b, (t+1)*b).

    MAP-ONLY, Arrow-vectorized: this is the one hot path where the built-in
    Column algebra genuinely can't express the computation efficiently — a
    (batch x dims) @ (dims x planes) sign projection. A Column formulation
    is either an interpreted higher-order fold per plane (~40 nested lambda
    folds per row) or a ~2,200-term unrolled scalar tree (16 s of py4j plan
    build + janino recompilation per plan); both measured 5-10x slower at
    sf0.1 than a vectorized Arrow map (0.6 s vs 3.6-9.7 s steady state),
    and the gap widens with planes x dims. Each `mapInArrow` batch reads
    its vector column as one flattened float64 matrix and runs
    `_lsh_kernel`; the JVM explodes the per-row bucket array.
    """
    return _lsh_bucket_rows(
        df, num_planes, dims, id_col, vec_col, num_tables, ("vec_id",)
    ).drop("buckets")


def lsh_bucket_vectors(
    df: DataFrame,
    num_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """(vec_id, __v, buckets, table, bucket): `hyperplane_lsh_buckets` with
    each row's vector and its whole per-table bucket array riding along —
    the input of `near_dup_pairs_from_buckets` from ONE scan of `df`, no
    join back to the vectors. The verifier reads `buckets` to emit a pair
    only from the first table in which its two vectors share a bucket."""
    return _lsh_bucket_rows(
        df, num_planes, dims, id_col, vec_col, num_tables, ("vec_id", "__v")
    )


def auto_num_planes(
    n_vectors: int, target_bucket: int = 64, min_planes: int = 4
) -> int:
    """The planes ~ log2(n) operating rule as a function: enough hyperplane
    bits that the EXPECTED bucket occupancy is ~`target_bucket`, never fewer
    than `min_planes`. Candidate-pair work per table is sum(bucket^2)/2, so
    holding occupancy constant keeps the bucket join LINEAR in corpus size;
    fixed bits make it quadratic (measured 50x at a 10x tiling — SCALE.md).
    Callers pass a cheap corpus-count estimate; recall lost to narrower
    buckets is recovered with more tables (`num_tables`), which scales
    linearly, not quadratically.

    Capped at 31 planes (corpus ~1.4e11 at the default occupancy): buckets
    accumulate as bigint, but 31 bits already gives 2^31 buckets and the
    cap keeps every engine's int paths (and the packed-bits assembly) far
    from overflow."""
    import math

    if n_vectors <= target_bucket:
        return min_planes
    return min(31, max(min_planes, math.ceil(math.log2(n_vectors / target_bucket))))


def _bucket_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    q: tuple,
    num_planes: int,
    num_tables: int,
    dims: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs sharing a (table, bucket):
    the LSH candidate builder of both LSH operators. The query buckets are
    hashed on the driver by `_lsh_kernel` from the vectors of the
    `_collect_queries` tuple `q`, so the query frame is read once. With
    `multiprobe` each query ALSO probes the `num_planes` buckets at
    Hamming distance 1 (one sign bit flipped) in every table — expansion
    on the QUERY side only (queries x L x (b+1) rows, broadcast), so the
    corpus-side plan is the single-probe one."""
    import numpy as np

    qb = _lsh_kernel(num_planes, dims, num_tables)(np.array(q[1], dtype=np.float64))
    flips = [0] + [1 << i for i in range(num_planes)] if multiprobe else [0]
    rows = [
        (qid, t, int(b) ^ f)
        for qid, row in zip(q[0].tolist(), qb)
        for t, b in enumerate(row)
        for f in flips
    ]
    id_type = queries.schema[id_col].dataType.simpleString()
    qp = driver_gate.local_frame(
        queries.sparkSession, rows, f"query_id {id_type}, table int, bucket bigint"
    )
    cb = hyperplane_lsh_buckets(corpus, num_planes, dims, id_col, vec_col, num_tables)
    return (
        cb.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket")
        .join(F.broadcast(qp), ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 10,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = docs sharing any (table, bucket) with
    the query, exact cosine re-rank (`_rerank`) over the candidate union.

    At 100 TB: corpus buckets are precomputed once (map-only, L small ints
    per vector) and bucket-partitioned on disk; per-query work is L buckets'
    worth of exact scoring instead of the full corpus.
    """
    q = _collect_queries(queries, id_col, vec_col, "cosine_topk_lsh")
    cand = _bucket_candidates(
        corpus, queries, q, num_planes, num_tables, dims, id_col, vec_col, False
    )
    return _rerank(_shortlist_rows(corpus, cand, id_col, vec_col), q, k)


def _adc_scorer(q_lists, q_norms, codebooks, dims: int, m: int):
    """The one ADC (asymmetric distance) scorer of PQ and IVF-PQ.

    Lookup tables first: tq[s][q, cell] = dot of the query subvector with
    the centroid (sequential over subdims — the oracle fold order) and
    csq[s][cell] = centroid self-dot. The returned `sims(codes, qidx=None)`
    accumulates the subspace terms left to right, ((t0 + t1) + t2) + t3,
    and rounds with `_round6_spark`: dense (n, nq) sims against every query
    when `qidx` is None, else (n,) sims of row i against query qidx[i].
    Fold-order-critical arithmetic lives ONCE so PQ-vs-IVFPQ score parity
    cannot drift."""
    import numpy as np

    sd = dims // m
    tq, csq = [], []
    for s, (lo, _hi) in enumerate(pq_subspace_bounds(dims, m)):
        cents = codebooks[s]
        tab = np.zeros((len(q_lists), len(cents)))
        for qi, qv in enumerate(q_lists):
            for ci, cent in enumerate(cents):
                acc = 0.0
                for d in range(sd):
                    acc += qv[lo + d] * cent[d]
                tab[qi, ci] = acc
        tq.append(tab)
        csq.append(np.array([_seq_sq_sum(c) for c in cents]))

    def sims(codes, qidx=None):
        def term(s):
            return tq[s].T[codes[s]] if qidx is None else tq[s][qidx, codes[s]]

        num, sq = term(0), csq[0][codes[0]]
        for s in range(1, m):
            num = num + term(s)
            sq = sq + csq[s][codes[s]]
        # zero-norm guard: an all-zero reconstruction (a zero vector's
        # codes) pins sim at 0.0 instead of NaN (see _codebook_affinities)
        rnorm = np.sqrt(sq)
        rnorm = np.where(rnorm == 0.0, 1.0, rnorm)
        if qidx is None:
            return _round6_spark(num / (rnorm[:, None] * q_norms))
        return _round6_spark(num / (rnorm * q_norms[qidx]))

    return sims


def near_dup_pairs_from_buckets(
    rows: DataFrame, threshold: float, chunk_pairs: int = 1 << 16
) -> DataFrame:
    """(vec_a, vec_b, sim): every id-ordered pair of (table, bucket, vec_id,
    __v, buckets) `rows` sharing a (table, bucket) whose exact cosine >=
    `threshold`, verified WITHIN the bucket. `buckets` is the row's whole
    per-table bucket array (`bucket` == `buckets[table]`).

    The verification stage of embedding near-dup (the analog of MinHash's
    jaccard_for_pairs). Earlier plan: bucket self-join -> distinct pairs ->
    two row-joins back to the vectors -> interpreted HOF cosine per pair.
    That materializes and shuffles every candidate pair THREE times (join,
    distinct, vector joins) and folds 2*dims interpreted lambda steps per
    pair — measured 15 s at sf0.1 against ~1.5 s for this form. Here the
    vectors shuffle ONCE, hash-partitioned by (table, bucket) and sorted by
    (table, bucket, vec_id) within each partition (linear in corpus x
    tables), and one `mapInArrow` pass scores every complete group of an
    Arrow batch together: no Python call per bucket. The rows of a batch's
    last group are held over to the next batch, so no group is split.
    Pairs above threshold are the only per-pair rows ever materialized.
    A pair is emitted only by the FIRST table in which its two vectors
    share a bucket (their `buckets` arrays are compared over the tables
    before), so a pair colliding in several tables comes out once with no
    distinct shuffle. The rows come from `lsh_bucket_vectors` (the LSH
    near-dup) or from a cell frame with its vectors joined on
    (`semantic_dedup`, one table).

    A group's rows are in id order (Spark's sort, NULLs last like a stable
    argsort), so every pair is oriented vec_a before vec_b. Each row's
    norm is folded once and each pair's dot is acc += a[d] * b[d] for d =
    0..dims-1 in place, so every dot (and norm) is the left-to-right IEEE
    fold from 0.0 of zip_with/aggregate and the oracle's unrolled sum;
    rounding is `_round6_spark` (Spark's HALF_UP on the shortest-decimal
    value). Ids keep the id column's own Arrow type. A duplicate-heavy
    bucket at 100 TB is inherently quadratic in ITS OWN size for any
    exact-verify design, so pairs are scored in blocks of consecutive
    anchor rows (each row against the rows after it in its group): a block
    packs many small groups, a group whose triangle exceeds `chunk_pairs`
    spans several blocks split at anchor rows, and a block holds at most
    `chunk_pairs` pairs or one anchor row. No group's whole m(m-1)/2 index
    triangle is built, so memory stays O(max(chunk_pairs, m)) even for a
    degenerate bucket of m rows. The default block keeps a block's
    per-dimension gathers (512 KB each) in cache: on a 4-vCPU host, numpy
    alone scored 64-d groups of 31 to 3000 rows about 1.5-2x faster in
    64K-pair blocks than in 2M-pair blocks.
    """
    import numpy as np
    import pyarrow as pa

    def keys(data):
        """(table, bucket, new): `data`'s key arrays, and for rows 1..n-1
        whether each starts a new group."""
        tbl = data.column("table").to_numpy(zero_copy_only=False)
        bkt = data.column("bucket").to_numpy(zero_copy_only=False)
        return tbl, bkt, (tbl[1:] != tbl[:-1]) | (bkt[1:] != bkt[:-1])

    def score(parts):
        """The owned above-threshold pairs of `parts`: RecordBatches of
        whole groups in (table, bucket, vec_id) order."""
        parts = [p for p in parts if p.num_rows]
        if not parts:
            return
        part = pa.Table.from_batches(parts)
        n = part.num_rows
        tbl, _, new = keys(part)
        first = np.r_[True, new]
        ends = np.r_[np.flatnonzero(first)[1:], n]
        partners = ends[np.cumsum(first) - 1] - np.arange(n) - 1
        if not partners.any():
            return
        ids = part.column("vec_id")
        xt = np.ascontiguousarray(_arrow_matrix(part.column("__v")).T)
        sq = np.zeros(n)
        for xd in xt:  # sequential over dims == the fold order
            sq += xd * xd
        norms = np.sqrt(sq)
        # zero-norm vectors pin sim 0.0, never NaN (repo-wide convention;
        # the oracle's guarded norms do the same) — a zero vector's dot is
        # 0, so dividing by the substituted 1.0 yields exactly 0.0
        norms = np.where(norms == 0.0, 1.0, norms)
        owners = _arrow_matrix(part.column("buckets"), "int64")
        cum = np.cumsum(partners)  # pairs anchored at rows 0..r
        lo = 0
        while lo < n:
            base = cum[lo] - partners[lo]
            hi = max(lo + 1, int(np.searchsorted(cum, base + chunk_pairs, "right")))
            c = partners[lo:hi]
            ia = np.repeat(np.arange(lo, hi), c)
            # partner = anchor + 1 + the pair's offset within its anchor run
            ib = ia + 1 + np.arange(len(ia)) - np.repeat(cum[lo:hi] - c - base, c)
            lo = hi
            acc = np.zeros(len(ia))
            for xd in xt:
                acc += xd[ia] * xd[ib]
            sim = _round6_spark(acc / (norms[ia] * norms[ib]))
            keep = sim >= threshold
            ia, ib, sim = ia[keep], ib[keep], sim[keep]
            # first-table rule: a pair that shares a bucket in an earlier
            # table belongs to that table's group
            tb = tbl[ia]
            own = np.ones(len(ia), bool)
            for t in range(int(tb.max(initial=0))):
                own &= (tb <= t) | (owners[ia, t] != owners[ib, t])
            if own.any():
                yield from pa.Table.from_arrays(
                    [ids.take(ia[own]), ids.take(ib[own]), pa.array(sim[own])],
                    names=["vec_a", "vec_b", "sim"],
                ).to_batches()

    def verify(batches):
        held, key = [], None  # the open group's rows and (table, bucket)
        for batch in batches:
            if not batch.num_rows:
                continue
            tbl, bkt, new = keys(batch)
            starts = np.flatnonzero(new)
            cut = int(starts[-1]) + 1 if len(starts) else 0  # last group's start
            if cut or (tbl[0], bkt[0]) != key:  # the held group is complete
                yield from score([*held, batch.slice(0, cut)])
                held = []
            held.append(batch.slice(cut))
            key = (tbl[-1], bkt[-1])
        yield from score(held)

    id_type = rows.schema["vec_id"].dataType.simpleString()
    return (
        rows.select("table", "bucket", "vec_id", "__v", "buckets")
        .repartition("table", "bucket")
        .sortWithinPartitions("table", "bucket", F.col("vec_id").asc_nulls_last())
        .mapInArrow(verify, f"vec_a {id_type}, vec_b {id_type}, sim double")
    )


def _round6_spark(a):
    """Vectorized replica of Spark's `round(x, 6)` on DOUBLE:
    BigDecimal.valueOf(x) — the shortest decimal representation — quantized
    HALF_UP (away from zero). The fast path floor(|x|*1e6 + 0.5) computes
    the same integer except when the IEEE `*1e6` lands within ~1e-7 of a
    .5 boundary, where scaling error could cross the boundary the exact
    decimal doesn't; those few candidates re-round through Python Decimal
    (repr(float) emits the identical shortest decimal as Java's
    Double.toString, so the arithmetic is bit-for-bit Spark's)."""
    import numpy as np

    absx = np.abs(a)
    scaled = absx * 1e6
    fast = np.floor(scaled + 0.5)
    frac = scaled - np.floor(scaled)
    risky = np.abs(frac - 0.5) < 1e-7
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_a = absx.ravel()
        flat_fast = fast.ravel()
        for i in np.where(risky.ravel())[0]:
            flat_fast[i] = float(
                Decimal(repr(float(flat_a[i])))
                .scaleb(6)
                .to_integral_value(rounding=ROUND_HALF_UP)
            )
        fast = flat_fast.reshape(a.shape)
    return np.sign(a) * fast / 1e6


def _codebook_affinities(x, cents, cnorms):
    """(n, k) rounded cosine affinities of batch `x` to the codebook —
    the SHARED exact arithmetic of `ivf_cells` and the k-means assignment.

    Accumulation is sequential over DIMENSIONS (acc += x_d * c_d), the
    identical left-to-right IEEE fold as the Column-expression form and the
    SQL oracle's list_sum — never a blocked BLAS matmul, whose different
    rounding could flip a ranking."""
    import numpy as np

    n, dims = x.shape
    dots = np.zeros((n, cents.shape[0]))
    self_dot = np.zeros(n)
    for d in range(dims):
        xd = x[:, d]
        dots = dots + xd[:, None] * cents[:, d]
        self_dot = self_dot + xd * xd
    vn = np.sqrt(self_dot)
    # Degenerate-norm guard (same as _codebook_argtop): a zero-norm vector
    # or centroid would emit NaN affinities, and NaN ranks LAST in numpy
    # lexsort but FIRST in a Spark desc() window — the same row set could
    # rank differently depending on which side pruned it, making top-k
    # output partition-dependent. Coalescing the zero norms to 1 keeps the
    # numerator-0 affinities at exactly 0.0 on every path.
    vn = np.where(vn == 0.0, 1.0, vn)
    cnorms = np.where(cnorms == 0.0, 1.0, cnorms)
    return _round6_spark(dots / (vn[:, None] * cnorms))


def _codebook_argtop(x, cents, cnorms, take: int):
    """(n, take) codebook indices of the top-`take` cells by (rounded
    cosine DESC, cell ASC) — bit-identical to ranking the full
    `_codebook_affinities` matrix, at BLAS cost.

    The full exact fold is O(n*k*dims) WITHOUT BLAS (the sequential
    per-dimension accumulation exists precisely because blocked matmul
    rounds differently), so a corpus-scaled codebook (SemDeDup's k ~ n)
    made assignment itself quadratic-ish: 10x tiling measured x17.8 on
    semantic_dedup before this. Here a float64 BLAS matmul produces
    APPROXIMATE affinities first — within ~1e-9 of the exact fold for
    unit-ish 64-dim vectors, against a 1e-6 rounding quantum — and only
    rows' candidate cells inside a 1e-5 margin of their take-th-largest
    approximate affinity are re-folded exactly (sequentially over dims,
    grouped by cell so the recompute is vectorized). Any cell outside the
    margin is > the rounding quantum below the take-th exact-rounded
    value and can never enter the exact top-take, so the shortlist always
    contains it; the final (rounded exact, cell) lexsort reproduces the
    stable argsort of the dense matrix. Only RANKING callers use this
    (cell assignment, Lloyd updates); operators that emit affinity VALUES
    keep the dense exact fold.
    """
    import numpy as np

    n, dims = x.shape
    k = cents.shape[0]
    take = min(take, k)
    # exact self-norms (cheap: n x dims) — these scale the emitted ranks'
    # implicit values, so they stay on the fold path
    sq = np.zeros(n)
    for d in range(dims):
        xd = x[:, d]
        sq = sq + xd * xd
    vn = np.sqrt(sq)
    # Degenerate-norm guard: a zero-norm vector (or centroid) would make
    # the whole affinity row NaN, np.where would then emit no shortlist
    # entries for it, and the starts-based gather below would read the
    # NEXT row's candidates (or run off the end). Coalescing the zero
    # norms to 1 keeps the numerator-0 affinities at exactly 0.0, so the
    # row ranks all cells tied at 0 and the (aff desc, cell asc) lexsort
    # deterministically assigns the lowest cell ids.
    vn_safe = np.where(vn == 0.0, 1.0, vn)
    cn_safe = np.where(cnorms == 0.0, 1.0, cnorms)

    approx = (x @ cents.T) / (vn_safe[:, None] * cn_safe)
    if take >= k:
        kth = np.full(n, -np.inf)
    else:
        kth = np.partition(approx, k - take, axis=1)[:, k - take]
    rows, cols = np.where(approx >= (kth[:, None] - 1e-5))

    exact = np.empty(len(rows))
    order = np.argsort(cols, kind="stable")
    rows, cols = rows[order], cols[order]
    bounds = np.searchsorted(cols, np.arange(k + 1))
    for c in range(k):
        lo, hi = bounds[c], bounds[c + 1]
        if lo == hi:
            continue
        xi = x[rows[lo:hi]]
        acc = np.zeros(hi - lo)
        cc = cents[c]
        for d in range(dims):
            acc = acc + xi[:, d] * cc[d]
        exact[lo:hi] = acc
    aff = _round6_spark(exact / (vn_safe[rows] * cn_safe[cols]))

    # per-row (rounded aff desc, cell asc): lexsort keys are applied
    # last-key-primary
    ordr = np.lexsort((cols, -aff, rows))
    rows_s, cols_s = rows[ordr], cols[ordr]
    starts = np.searchsorted(rows_s, np.arange(n))
    out = np.empty((n, take), dtype=np.int64)
    for t in range(take):
        out[:, t] = cols_s[starts + t]
    return out


def _codebook(centroids: DataFrame, id_col: str, vec_col: str):
    """(cell ids, centroid matrix, centroid norms) of a coarse codebook,
    from one sorted collect: the arrays every home-cell assignment
    (`_codebook_argtop`) ships in its closure. A caller assigning both
    corpus and queries (cosine_topk_ivf) passes them to `ivf_cells`, so
    the collect runs once."""
    import numpy as np

    rows = sorted(
        centroids.select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid")
        ).collect(),
        key=lambda r: r.cell,
    )
    lists = [[float(x) for x in r.centroid] for r in rows]
    return (
        np.array([r.cell for r in rows]),
        np.array(lists, dtype=np.float64),
        _seq_norms(lists),
    )


def ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    codebook: tuple | None = None,
) -> DataFrame:
    """(vec_id, cell, cell_rank): the `nprobe` nearest coarse cells per
    vector, ranked by cosine to the centroid set.

    The IVF coarse quantizer: corpus vectors index with nprobe=1 (their one
    home cell); queries probe several. Determinism: cosine rounded to 6
    decimals (Spark-exact HALF_UP, `_round6_spark`), centroid id breaks
    ties (`_codebook_argtop` over ascending cell order).

    MAP-ONLY and Arrow-vectorized: a codebook is driver-small by definition
    (k vectors — the same object every ANN system broadcasts), so it is
    collected once and ships inside the mapInPandas closure; each batch
    ranks against it with numpy using the oracle's exact fold order.
    History of this plan: broadcast crossJoin + row_number window (shuffled
    corpus x k rows — at 100 TB that shuffle IS the job), then
    packed-literal array_sort HOFs (map-only but interpreted — the
    k x dims fold per row dominated the ANN bench the same way the LSH
    folds did). Cells are then bucket-partitioned on disk so probes read
    only the matching buckets.
    """
    import numpy as np
    import pandas as pd

    if codebook is None:
        codebook = _codebook(centroids, id_col, vec_col)
    cells, cents, cnorms = codebook
    cell_type = centroids.schema[id_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    take = min(nprobe, len(cells))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            order = _codebook_argtop(_vectors(pdf), cents, cnorms, take)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), take),
                    "cell": cells[order].reshape(-1),
                    "cell_rank": np.tile(
                        np.arange(1, take + 1, dtype=np.int32), len(pdf)
                    ),
                }
            )

    return df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    ).mapInPandas(assign, f"vec_id {id_type}, cell {cell_type}, cell_rank int")


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    q: tuple,
    codebook: tuple,
    nprobe: int,
    id_col: str,
) -> tuple[DataFrame, list]:
    """((query_id, cell) frame, sorted probed cells): each query's `nprobe`
    nearest cells, ranked as `ivf_cells` ranks them but on the driver, from
    the vectors of the `_collect_queries` tuple `q` — so the query frame is
    read once."""
    import numpy as np

    cells, cents, cnorms = codebook
    top = cells[
        _codebook_argtop(np.array(q[1], dtype=np.float64), cents, cnorms, nprobe)
    ].tolist()
    rows = [(qid, cell) for qid, probed in zip(q[0].tolist(), top) for cell in probed]
    id_type = queries.schema[id_col].dataType.simpleString()
    cell_type = centroids.schema[id_col].dataType.simpleString()
    frame = driver_gate.local_frame(
        queries.sparkSession, rows, f"query_id {id_type}, cell {cell_type}"
    )
    return frame, sorted({cell for _, cell in rows})


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """(vec_id, dim, q, scale): symmetric per-vector int8 quantization —
    the storage/bandwidth reduction pass an embedding corpus runs before
    ANN indexing (4x smaller than float32, 8x than float64; dot products
    on int8 SIMD-accelerate downstream).

    q[d] = round(x[d] / scale * 127) with scale = max(|x|): HALF_UP
    rounding matches every engine's `round(double)`, the division and
    multiplication are single IEEE ops, so the oracle reproduces the codes
    exactly. Zero vectors quantize to all-zero codes (scale coalesces to 1
    to avoid 0/0). MAP-ONLY: one array fold for the scale + a posexplode —
    no shuffle at any corpus size. Emitted EXPLODED (one row per dimension)
    rather than as an array column so the correctness gate hashes scalar
    cells.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    scale = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    src = df.select(
        F.col(id_col).alias("vec_id"), v.alias("__v"), scale.alias("scale")
    )
    return src.select(
        "vec_id",
        F.posexplode(F.col("__v")),
        "scale",
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("col").cast("double") / F.col("scale") * qmax)
        .cast("int")
        .alias("q"),
        F.round(F.col("scale"), 6).alias("scale"),
    )


def int8_code_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """(vec_id, q: array<bigint>): the int8 code VECTOR of every embedding
    — `quantize_embeddings`' exact arithmetic (scale = max|x| coalesced to
    1, q = round(x / scale * qmax) HALF_UP) kept in array form for scoring
    instead of exploded for storage. JVM-side Column algebra end to end:
    the codes whole-stage-codegen out of the scan with zero shuffle and
    zero Python at any corpus size.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    scale = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    src = df.select(
        F.col(id_col).alias("vec_id"), v.alias("__v"), scale.alias("__s")
    )
    return src.select(
        "vec_id",
        F.transform(
            F.col("__v"),
            lambda x: F.round(x.cast("double") / F.col("__s") * qmax).cast(
                "bigint"
            ),
        ).alias("q"),
    )


def _round_half_away_np(v):
    """Vectorized round-half-away-from-zero on exact binary values.

    numpy has no half-away round (np.rint is banker's), and the naive
    floor(v + 0.5) overcounts for the double just below 0.5 (v + 0.5
    rounds UP to 1.0 in IEEE): the guard subtracts 1 wherever
    floor(|v| + 0.5) - |v| > 0.5, which reproduces round-half-away on the
    exact binary value — the same result as DuckDB's C round() and
    Spark's shortest-repr BigDecimal HALF_UP (shortest-repr comparisons
    against .5 agree with exact-binary ones except at exact ties, where
    all agree). Every Arrow-side quantization MUST use this so it hashes
    identically to the F.round/SQL-round oracles."""
    import numpy as np

    av = np.abs(v)
    r = np.floor(av + 0.5)
    r = np.where(r - av > 0.5, r - 1.0, r)
    return (np.sign(v) * r).astype(np.int64)


def _int8_codes_np(x, bits: int = 8):
    """Vectorized int8 quantization with EXACTLY the engines' HALF_UP
    rounding: q = round(x / scale * qmax), scale = max|x| (1 if zero).
    Verified against the JVM `int8_code_vectors` path in tests.
    """
    import numpy as np

    scale = np.abs(x).max(axis=1)
    scale[scale == 0.0] = 1.0
    qmax = float(2 ** (bits - 1) - 1)
    return _round_half_away_np((x / scale[:, None]) * qmax)


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Exact top-k cosine over int8-QUANTIZED vectors — the memory-
    bandwidth-bound scoring path a billion-scale serving tier runs when
    the corpus must fit in RAM (8x smaller than float64; int8 dot products
    SIMD-accelerate 4-16x on every ISA).

    (query_id, neighbor_id, sim, rank) where sim is the cosine of the CODE
    vectors: the per-vector scales cancel in cosine, so the whole score is
    an INTEGER dot over ±127 codes divided by two integer-sum norms —
    exact in any accumulation order on any engine (the one arithmetic in
    this module where no fold-order discipline is needed), with a single
    rounded division at the end. The same `_scan` as `cosine_topk`:
    kilobytes reach the final window regardless of corpus size.

    Quantization happens INSIDE the Arrow scorer (`_int8_codes_np`), not
    as a JVM Column transform: higher-order array functions evaluate
    interpreted per element, and the 64-element round/divide lambda was
    the whole runtime at 10x tiling (8.4 of 8.7 s). Scoring is a float64
    BLAS matmul that is still EXACT — codes are +-127, so every product
    and partial sum stays far below 2^53, and integer-valued doubles add
    exactly in any order (numpy's int64 matmul has no BLAS path).
    """
    import numpy as np

    q_ids, q_lists, _, _ = _collect_queries(
        queries, id_col, vec_col, "cosine_topk_int8"
    )
    q_codes = _int8_codes_np(np.array(q_lists, dtype=np.float64), bits)

    def norms(codes):
        # zero-norm guard (see _codebook_affinities): the numerator is 0
        # anyway, and NaN would rank partition-dependently
        n = np.sqrt((codes * codes).sum(axis=1).astype(np.float64))
        return np.where(n == 0.0, 1.0, n)

    q_norms = norms(q_codes)
    q_codes_f = q_codes.astype(np.float64)

    def score(pdf):
        x = _int8_codes_np(_vectors(pdf), bits)
        dots = x.astype(np.float64) @ q_codes_f.T
        return _round6_spark(dots / (q_norms[None, :] * norms(x)[:, None]))

    return _scan(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
        q_ids,
        score,
        k=k,
    )


#: Driver-path cap for Lloyd training: a training frame with at most this
#: many rows is collected once through `driver_gate.collect_if_fits` and
#: every iteration runs in-process; above it the per-iteration distributed
#: loop takes over. Both paths run the same `_lloyd_partials` and
#: `_lloyd_update`, so they are bit-equal. 250k rows of 64 float64 dims is
#: ~128 MB — driver-trivial; a 100 TB corpus falls back.
DRIVER_TRAIN_MAX_ROWS = 250_000


def _driver_train_probe(df: DataFrame, id_col: str, vec_col: str):
    """(ids list, x float64 matrix) of the training frame when it fits
    `DRIVER_TRAIN_MAX_ROWS`, ([], None) for an empty frame, or None for
    the distributed fallback.

    Two guards protect the bit-equal seed order, which hashes each id's
    string rendering: the id type's rendering must be provably identical
    between Python and Spark's CAST(.. AS STRING), and no id may be NULL
    (Python would hash 'None' where Spark orders NULL first, and a None
    breaks the (md5, id) tiebreak sort).
    """
    from pyspark.sql import types as T

    if not isinstance(
        df.schema[id_col].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.StringType),
    ):
        return None
    table = driver_gate.collect_if_fits(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        DRIVER_TRAIN_MAX_ROWS,
    )
    if table is None or table.column("id").null_count:
        return None
    if not table.num_rows:
        return [], None
    return table.column("id").to_pylist(), _arrow_matrix(table.column("v"))


def _driver_seed_order(ids: list) -> list[int]:
    """Row indices in (md5(str(id)), id) order — the distributed seed rule
    `orderBy(md5(cast(id as string)), id)` replayed locally: md5 hex is
    lowercase ASCII on both sides, so Python string order == Spark's UTF8
    binary order, and the id tiebreak compares the same values."""
    import hashlib

    return sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(str(ids[i]).encode()).hexdigest(),
            ids[i],
        ),
    )


def _lloyd_partials(x, bounds, c_arrs, c_norms):
    """The per-batch Lloyd partial of both training paths: per subspace
    [lo, hi), assign each row of `x` to its nearest centroid
    (`_codebook_argtop`: 6-decimal cosine, ties to the lowest cell) and
    sum the assigned rows as integer micros. Returns int64 (counts (m, k),
    sums (m, k, sd)). Assignment is a pure per-row function and integer
    addition is associative, so one call on the whole matrix (driver path)
    equals any reduction of per-batch calls (distributed path)."""
    import numpy as np

    k = len(c_arrs[0])
    counts = np.zeros((len(bounds), k), dtype=np.int64)
    sums = np.zeros((len(bounds), k, bounds[0][1] - bounds[0][0]), dtype=np.int64)
    for s, (lo, hi) in enumerate(bounds):
        xs = x[:, lo:hi]
        cell = _codebook_argtop(xs, c_arrs[s], c_norms[s], 1)[:, 0]
        counts[s] = np.bincount(cell, minlength=k)
        np.add.at(sums[s], cell, np.floor(xs * 1e6).astype(np.int64))
    return counts, sums


def _lloyd_update(cents, counts, sums) -> bool:
    """The Lloyd update of both training paths, in place on `cents`
    (m x k x sd integer micros): a non-empty cell's new micro is
    floor(sum * 1.0 / count) in IEEE double (sums stay far below 2^53, so
    the division is exact cross-engine); empty cells keep their previous
    centroid. Returns whether any centroid moved."""
    import math

    changed = False
    for s, sub in enumerate(cents):
        for j in range(len(sub)):
            if counts[s, j] > 0:
                new = [
                    int(math.floor(int(t) * 1.0 / int(counts[s, j])))
                    for t in sums[s, j]
                ]
                if new != sub[j]:
                    sub[j] = new
                    changed = True
    return changed


class _EmptyTrainingFrame(ValueError):
    """The Lloyd trainer was given a frame with no rows."""


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Deterministic k-means codebook for the IVF coarse quantizer.

    Lloyd iterations with every source of nondeterminism removed, so the
    same data yields bit-identical centroids on any run, partitioning, or
    engine (a DuckDB oracle reproduces it exactly):

    * init — the k vectors with smallest (md5(id), id): the engine's
      deterministic id-hash sampler (operators/curation.py uses the same
      trick), standing in for random seeding; cell = rank in that order.
    * assign — cosine affinity to each centroid rounded to 6 decimals
      (Spark-exact, `_round6_spark`), ties to the lowest cell, computed in
      numpy with the oracle's exact fold order (`_codebook_affinities`).
    * update — per-dimension sums of floor(value * 1e6) as LONGS: integer
      addition is associative, so partial aggregation order cannot change
      the result. New centroid micro = floor(sum * 1.0 / count) evaluated
      in IEEE double (sums stay far below 2^53, so the division is exact
      cross-engine). Empty cells keep their previous centroid.
    * stop — early exit when the integer micro-vectors stop changing
      (assignment is a pure function of centroids, so once they repeat the
      remaining iterations are no-ops and early exit preserves equality
      with a fixed-iteration oracle).

    This is `train_pq_codebooks` with one subspace (m=1): the same gate,
    the same per-batch partial and the same update step, so the driver
    path and the distributed map-only path (k partial rows per task,
    reduced driver-side) are bit-equal.

    Returns (id_col int cell, vec_col array<double>) — feed directly to
    `cosine_topk_ivf`. Reference analogue: none (the reference has no ANN);
    this backs the training-data-pipeline ANN path (SURVEY §2 additions).
    """
    if dims is None:
        first = df.select(vec_col).first()
        if first is None:
            raise ValueError("cannot train centroids on an empty frame")
        dims = len(first[0])
    try:
        (cents,) = train_pq_codebooks(df, 1, k, iters, id_col, vec_col, dims)
    except _EmptyTrainingFrame:
        cents = []
    schema = f"{id_col} int, {vec_col} array<double>"
    return driver_gate.local_frame(df.sparkSession, list(enumerate(cents)), schema)


def pq_subspace_bounds(dims: int, m: int) -> list[tuple[int, int]]:
    """[(lo, hi)) 0-based dim ranges of the `m` equal PQ subspaces."""
    if dims % m != 0:
        raise ValueError("dims must divide evenly into m subspaces")
    sd = dims // m
    return [(s * sd, (s + 1) * sd) for s in range(m)]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> list[list[list[float]]]:
    """Per-subspace spherical k-means codebooks for product quantization.

    Each of the `m` dim-slices trains its own `codebook_k`-centroid
    codebook with the deterministic Lloyd arithmetic documented on
    `train_ivf_centroids` (md5-seeded init, 6-decimal cosine assignment
    with lowest-cell ties, integer-micro updates, empty cells carrying
    over), so the codebooks are bit-reproducible on any engine and an
    oracle replaying each subspace independently matches. Spherical
    (cosine) subquantizers instead of the classical L2 PQ because the
    downstream metric IS cosine.

    FUSED training: all m subspaces assign and partially aggregate in ONE
    pass per Lloyd iteration instead of m separate k-means runs — `iters`
    corpus scans total rather than m x iters. Equality with the
    per-subspace runs is exact: each subspace's update is a pure function
    of its own centroids, and a subspace that has converged sits at a
    fixpoint, so fused iterations reproduce the unfused sequence bit for
    bit.

    Two paths, one kernel: a frame that `driver_gate.collect_if_fits`
    accepts (at most `DRIVER_TRAIN_MAX_ROWS` rows) is collected once and
    `_lloyd_partials` runs on the whole matrix; a larger one is persisted
    and `_lloyd_partials` runs per Arrow batch inside `mapInPandas`, its
    per-task rows summed on the driver. `_lloyd_update` serves both.

    Returns plain nested lists (m x k x subdims doubles) — codebooks are
    driver-small by definition and ship inside operator closures.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    bounds = pq_subspace_bounds(dims, m)
    probe = _driver_train_probe(df, id_col, vec_col)
    if probe is not None:
        ids, xm = probe
        seeds = [] if xm is None else [
            xm[i] for i in _driver_seed_order(ids)[:codebook_k]
        ]
    else:
        seeds = [
            row.v
            for row in df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
            .limit(codebook_k)
            .collect()
        ]
    if not seeds:
        raise _EmptyTrainingFrame("cannot train PQ codebooks on an empty frame")
    if probe is None:
        # Lloyd re-reads the corpus every iteration: persist the projected
        # training frame once instead of re-scanning per iteration — the
        # standard Spark iterative-ML pattern (MLlib's KMeans does the
        # same). MEMORY_AND_DISK spills when the corpus outgrows memory.
        src = df.select(F.col(vec_col).alias("v")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    # per-subspace centroids as exact integer micros (canonical form)
    cents = [
        [[int(math.floor(float(v[d]) * 1e6)) for d in range(lo, hi)] for v in seeds]
        for lo, hi in bounds
    ]
    shape = (m, len(seeds), dims // m)
    for _ in range(iters):
        lists = [[[mc / 1e6 for mc in cm] for cm in sub] for sub in cents]
        c_arrs = [np.array(cl, dtype=np.float64) for cl in lists]
        c_norms = [_seq_norms(cl) for cl in lists]
        if probe is not None:
            counts, sums = _lloyd_partials(xm, bounds, c_arrs, c_norms)
        else:

            def partials(batches, c_arrs=c_arrs, c_norms=c_norms):
                for pdf in batches:
                    if len(pdf):
                        cnt, sm = _lloyd_partials(
                            _vectors(pdf, "v"), bounds, c_arrs, c_norms
                        )
                        yield pd.DataFrame({"cnt": [cnt.ravel()], "sums": [sm.ravel()]})

            stats = src.mapInPandas(
                partials, "cnt array<long>, sums array<long>"
            ).toPandas()
            counts = sum(stats["cnt"], np.zeros(shape[:2], np.int64).ravel())
            sums = sum(stats["sums"], np.zeros(shape, np.int64).ravel())
            counts, sums = counts.reshape(shape[:2]), sums.reshape(shape)
        if not _lloyd_update(cents, counts, sums):
            break
    if probe is None:
        src.unpersist()
    return [[[mc / 1e6 for mc in cm] for cm in sub] for sub in cents]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}): the PQ code of every vector — each
    subvector's nearest codebook centroid by 6-decimal rounded cosine
    (ties to the lowest cell, the IVF assignment rule per subspace).

    MAP-ONLY: the m codebooks ride in the closure; one Arrow pass encodes
    the corpus to m small ints per vector (64 floats -> 4 bytes at the
    default geometry) with zero shuffle at any corpus size.
    """
    import pandas as pd

    code_cols = [f"code_{s}" for s in range(len(codebooks))]
    pq_codes = _pq_coder(codebooks)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, " + ", ".join(
        f"{c} int" for c in code_cols
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            cols.update(zip(code_cols, pq_codes(_vectors(pdf))))
            yield pd.DataFrame(cols)

    return df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    ).mapInPandas(encode, out_schema)


def _pq_coder(codebooks):
    """The PQ encoder of `pq_encode` and the IVF-PQ index pass: returns
    `codes(x)`, the m int32 arrays of each subvector's nearest codebook
    centroid (`_codebook_argtop`: 6-decimal cosine, ties to the lowest
    cell)."""
    import numpy as np

    cents = [np.array(cb, dtype=np.float64) for cb in codebooks]
    norms = [_seq_norms(cb) for cb in codebooks]
    sd = cents[0].shape[1]

    def codes(x):
        return [
            _codebook_argtop(x[:, s * sd : (s + 1) * sd], c, n, 1)[:, 0].astype(
                np.int32
            )
            for s, (c, n) in enumerate(zip(cents, norms))
        ]

    return codes


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC):
    train m spherical subquantizers, encode the corpus to m-byte codes,
    score sim(q, x) ~ cosine(q, reconstruction(x)) from per-subspace lookup
    tables — never touching the raw corpus vectors at query time.

    (query_id, neighbor_id, sim, rank); self-matches excluded; sim is the
    rounded ADC approximation, deterministic via the shared exact-fold
    arithmetic: per-subspace dots fold sequentially over dims, subspace
    terms accumulate left-to-right, rounding is `_round6_spark`.

    The 100 TB shape: codes are 16x smaller than float32 vectors (4 x 1B
    codes vs 64 x 4B floats), scoring is a map-only gather over two small
    tables per query, and — the same `_scan` as `cosine_topk` — each
    batch prunes to its local top-k so the final window ranks
    tasks x queries x k rows.
    """
    codebooks = train_pq_codebooks(
        corpus, m, codebook_k, iters, id_col, vec_col, dims
    )
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    q_ids, q_lists, q_norms, _ = _collect_queries(
        queries, id_col, vec_col, "cosine_topk_pq"
    )
    adc = _adc_scorer(q_lists, q_norms, codebooks, dims, m)
    code_cols = [f"code_{s}" for s in range(m)]
    return _scan(
        codes, q_ids, lambda pdf: adc([pdf[c].to_numpy() for c in code_cols]), k=k
    )


def _seq_sq_sum(xs: list[float]) -> float:
    """Left-to-right sum of squares — the same IEEE fold order as the SQL
    list_sum the oracle uses, so the literal centroid norm matches it."""
    acc = 0.0
    for x in xs:
        acc += x * x
    return acc


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus (one cell per
    vector), probe the query's `nprobe` nearest cells (`_probe_cells`),
    exact cosine re-rank (`_rerank`) inside the probed cells. The
    complement of the LSH path: recall comes from probing more cells
    instead of more hash tables."""
    q = _collect_queries(queries, id_col, vec_col, "cosine_topk_ivf")
    codebook = _codebook(centroids, id_col, vec_col)
    corpus_cells = ivf_cells(
        corpus, centroids, id_col, vec_col, nprobe=1, codebook=codebook
    ).select(F.col("vec_id").alias("neighbor_id"), "cell")
    query_cells, _ = _probe_cells(queries, centroids, q, codebook, nprobe, id_col)
    cand = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank(_shortlist_rows(corpus, cand, id_col, vec_col), q, k)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """IVF-PQ composite ANN — the canonical billion-scale index shape
    (coarse inverted file for candidate pruning, product-quantized codes
    for compressed scoring): corpus vectors index to ONE home cell, queries
    probe `nprobe` cells, and only the probed cells' m-byte PQ codes are
    ADC-scored — raw vectors are never touched at query time AND most of
    the corpus is never scored at all.

    (query_id, neighbor_id, sim, rank); sim is the rounded ADC cosine of
    `_adc_scorer`, identical to `cosine_topk_pq`'s scoring, so the SQL
    oracle replays training + encoding + probing + ADC bit-for-bit.

    The 100 TB shape: the corpus-side index row (home cell + m-byte PQ
    code) is produced by ONE fused Arrow pass — both are per-row functions
    of the embedding, so deriving them as separate frames and joining on
    vec_id (the pre-round-6 plan) paid a full corpus shuffle for a join
    whose two sides were the same scan. Candidate generation is then a
    broadcast join of the query probe cells against that map-only indexed
    frame; each (query, neighbor) pair meets in the neighbor's single home
    cell, so no distinct is needed; the ranking window sees only
    probed-cell candidates.
    """
    import numpy as np
    import pandas as pd

    codebooks = train_pq_codebooks(
        corpus, m, codebook_k, iters, id_col, vec_col, dims
    )

    # fused encode + home-cell assignment: one Arrow pass, zero shuffle
    codebook = _codebook(centroids, id_col, vec_col)
    cells, coarse, coarse_norms = codebook
    pq_codes = _pq_coder(codebooks)
    id_type = corpus.schema[id_col].dataType.simpleString()
    cell_type = centroids.schema[id_col].dataType.simpleString()
    code_cols = [f"code_{s}" for s in range(m)]
    index_schema = f"vec_id {id_type}, cell {cell_type}, " + ", ".join(
        f"{c} int" for c in code_cols
    )

    def index_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _vectors(pdf)
            home = _codebook_argtop(x, coarse, coarse_norms, 1)[:, 0]
            cols = {"vec_id": pdf["vec_id"].to_numpy(), "cell": cells[home]}
            cols.update(zip(code_cols, pq_codes(x)))
            yield pd.DataFrame(cols)

    indexed = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    ).mapInPandas(index_rows, index_schema)

    q = _collect_queries(queries, id_col, vec_col, "cosine_topk_ivfpq")
    q_ids, q_lists, q_norms, _ = q
    query_cells, _ = _probe_cells(queries, centroids, q, codebook, nprobe, id_col)
    cand = indexed.join(F.broadcast(query_cells), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = _adc_scorer(q_lists, q_norms, codebooks, dims, m)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = np.searchsorted(q_ids, pdf["query_id"].to_numpy())
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "sim": adc([pdf[c].to_numpy() for c in code_cols], qidx),
                }
            )

    sims = cand.select("query_id", "vec_id", *code_cols).mapInPandas(
        score, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )
    return _rank_topk(sims, k)


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-ranking of an approximate candidate shortlist —
    the REFINEMENT step every production IVF-PQ deployment runs: the
    compressed index proposes `refine x k` candidates cheaply (ADC over
    4-byte codes), then ONLY those candidates' raw vectors are read and
    scored exactly, and the top-k comes from the exact scores. Recovers
    most of the recall the code quantization loses while still never
    scanning raw vectors for the untouched corpus. The LSH and IVF-flat
    operators end in the same `_rerank`, with their bucket / cell
    candidates.

    Plan shape at 100 TB: `shortlist` is (queries x refine*k) rows —
    kilobytes — so it BROADCASTS into a semi-join-shaped inner join that
    prunes the corpus scan to candidate rows only; scoring is `_rerank`
    (the oracle's exact sequential-over-dimensions fold), and the final
    window ranks a shortlist-sized frame. One corpus scan, no corpus
    shuffle.

    (query_id, neighbor_id, sim, rank) with exact sims, rank <= k.
    Shortlist rows whose query is not in `queries`, and self-matches, are
    dropped.
    """
    q = _collect_queries(queries, id_col, vec_col, "exact_rerank")
    return _rerank(_shortlist_rows(corpus, shortlist, id_col, vec_col), q, k)


def _shortlist_rows(
    corpus: DataFrame, shortlist: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, __v, query_id): the corpus rows of a (query_id,
    neighbor_id) shortlist, which broadcasts into the corpus scan."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    ).join(F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id")


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, n_dups, kept): SemDeDup-style semantic deduplication
    (Abbas et al. 2023) — cluster the embedding space with the deterministic
    k-means codebook, verify exact cosine ONLY within each cluster, and
    greedily keep one representative per duplicate relation (a vector is
    dropped when it has an above-threshold neighbor with a smaller id in
    its cell; the paper's keep-farthest-from-centroid rule is swapped for
    the id rule so the result is a pure function of the data — no
    tie-ordering ambiguity across engines). `n_dups` counts a vector's
    above-threshold same-cell neighbors in either direction.

    Scale shape — this is the whole point of SemDeDup over all-pairs
    near-dup: with k chosen ~ n / target_cell_size the per-cell population
    is CONSTANT, so the quadratic exact-verify work is (n/k choose 2) * k
    = O(n * cell_size) — linear in the corpus at fixed cell size — while
    plain LSH near-dup has no such occupancy guarantee under semantic
    clustering drift. The plan is: one map-only home-cell assignment
    (`ivf_cells`, codebook in the closure), ONE shuffle of the corpus to
    its cells, pairwise verification emitting only above-threshold pairs
    (`near_dup_pairs_from_buckets`: one Arrow pass per shuffle partition,
    in blocks of at most `chunk_pairs` pairs; with one table its
    first-table rule keeps every pair), and a single
    explode+groupBy over those pairs (pair-set-sized, not corpus-sized) to
    derive per-vector dup counts and the keep flag. Training the codebook
    is `train_ivf_centroids` (bounded Lloyd partials).

    Reference analogue: none (the reference has no embedding ops); this
    backs the training-data-pipeline curation path (SURVEY §2 additions).
    """
    cells = ivf_cells(
        emb, centroids, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select("vec_id", "cell")
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    pairs = near_dup_pairs_from_buckets(
        cells.join(vecs, "vec_id").select(
            F.lit(0).alias("table"),
            F.col("cell").alias("bucket"),
            "vec_id",
            "__v",
            F.array("cell").alias("buckets"),
        ),
        threshold,
    )
    # one scan of the pair set: each pair contributes a neighbor count to
    # both sides and a "dropped" vote to the larger id (vec_a < vec_b by
    # construction in the verifier)
    sides = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col("vec_a").alias("vec_id"), F.lit(0).alias("d")),
                F.struct(F.col("vec_b").alias("vec_id"), F.lit(1).alias("d")),
            )
        )
    )
    agg = sides.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.max("d").alias("__dropped"),
    )
    return (
        cells.join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            (F.coalesce("__dropped", F.lit(0)) == 0).cast("int").alias("kept"),
        )
    )


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(label_a, label_b, cos): pairwise cosine between per-label SUM
    vectors — the class-separation / source-drift audit (cosine is
    scale-invariant, so the sum IS the centroid direction and no division
    by group count ever happens).

    Exactness discipline: each element quantizes to an exact integer
    (round(x * scale), the milli analog of the cents trick) and the
    per-label per-dimension sums are BIGINT (order-free, associativity-
    proof). The dot/norm folds over the 64-dim sum vectors run in DOUBLE
    over the pos-SORTED array — a sequential left fold, so the order is
    fixed by the array, not by distributed-agg arrival, and the products
    (s_i^2 ~ dims * (scale*n)^2) can no longer silently wrap int64 the
    way a BIGINT square would at a few million rows per label (r7 ADVICE).
    While |s_i^2| < 2^53 the double terms are exact integers and the fold
    equals the old BIGINT math bit-for-bit; beyond that it degrades to
    IEEE rounding instead of wrapping.

    Plan shape: one corpus-sized posexplode feeding a map-side-combined
    groupBy(label, dim) — the ONLY corpus-scan stage; everything after
    runs on |labels| rows (kilobytes), where the pair join broadcasts
    trivially.
    """
    q = _milli(F.col("val"), scale)
    sums = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("pos", "val"),
        )
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"))
    )
    vecs = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda e: e.getField("s").cast("double"),
        ).alias("sv")
    )
    norms = vecs.select("label", "sv", _dot(F.col("sv"), F.col("sv")).alias("n2"))
    norms = norms.localCheckpoint(eager=False)  # tiny; feeds both sides
    a = norms.select(
        F.col("label").alias("label_a"),
        F.col("sv").alias("__sa"),
        F.col("n2").alias("__na2"),
    )
    b = norms.select(
        F.col("label").alias("label_b"),
        F.col("sv").alias("__sb"),
        F.col("n2").alias("__nb2"),
    )
    dot = _dot(F.col("__sa"), F.col("__sb"))
    # zero-norm guard (same as centroid_outlier_scores): a label whose sum
    # vector is all zeros would emit NaN cos for every pair it touches;
    # the numerator is 0 there, so coalescing the norms to 1 pins cos at
    # exactly 0.0
    na = F.when(F.col("__na2") == 0.0, F.lit(1.0)).otherwise(
        F.sqrt(F.col("__na2"))
    )
    nb = F.when(F.col("__nb2") == 0.0, F.lit(1.0)).otherwise(
        F.sqrt(F.col("__nb2"))
    )
    cos = F.round(dot / (na * nb), 6)
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.alias("cos"))
    )


def centroid_outlier_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.0,
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, centroid_cos, is_outlier): per-vector cosine to the global
    corpus centroid — the standard embedding-space outlier screen a
    curation pipeline runs before semantic dedup (vectors pointing away
    from the corpus bulk are mislabeled/garbage candidates).

    Exactness discipline = `label_centroid_similarity`: elements quantize
    to exact integers (round(x*scale)) and the per-dimension corpus sums
    are BIGINT (order-free, so the centroid is associativity-proof). The
    per-vector side (nq2) stays exact BIGINT — it is bounded by
    dims*(4*scale)^2 regardless of corpus size — but the folds touching
    the SUM vector (dot, ns2) run in DOUBLE over the pos-sorted array:
    ns2 ~ dims*(scale*n)^2 wraps int64 at a few million rows (r7 ADVICE),
    while the double fold is bit-identical to the integer math as long as
    every term stays below 2^53 and degrades to IEEE rounding (not
    wraparound) beyond. The fold is sequential over the array, so it is
    deterministic at any scale. Cosine is scale-invariant, so the SUM
    vector serves as the centroid direction and no division by corpus
    count happens anywhere.

    Plan shape: one corpus-sized posexplode into a map-side-combined
    groupBy(pos) (dims rows out), re-aggregated to a single array row that
    CROSS-JOIN BROADCASTS back onto the corpus scan — a 1-row scalar
    frame, the one shape where a nested-loop join is free. The per-vector
    score is then a map-only zip_with/aggregate fold. Two passes over the
    corpus, zero data-sized shuffles at any scale.

    `is_outlier` compares the ROUNDED cosine strictly below `tau`, so the
    flag is deterministic wherever the rounded value is.
    """
    q = _milli(F.col("val"), scale)
    qvec = F.transform(F.col(vec_col), lambda x: _milli(x, scale))
    sums = (
        df.select(F.posexplode(vec_col).alias("pos", "val"))
        .select("pos", q.alias("q"))
        .groupBy("pos")
        .agg(F.sum("q").alias("s"))
    )
    svec = sums.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda e: e.getField("s"),
        ).alias("sv")
    )
    dot = _dot(F.col("__q"), F.col("sv"))
    nq2 = F.aggregate(
        F.transform(F.col("__q"), lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ns2 = _dot(F.col("sv"), F.col("sv"))
    cos = F.when(
        (F.col("__nq2") == 0) | (F.col("__ns2") == 0.0), F.lit(0.0)
    ).otherwise(
        F.round(
            F.col("__dot")
            / (F.sqrt(F.col("__nq2").cast("double")) * F.sqrt(F.col("__ns2"))),
            6,
        )
    )
    return (
        df.select(F.col(id_col).alias("vec_id"), qvec.alias("__q"))
        .crossJoin(F.broadcast(svec))
        .select(
            "vec_id",
            dot.alias("__dot"),
            nq2.alias("__nq2"),
            ns2.alias("__ns2"),
        )
        .select(
            "vec_id",
            cos.alias("centroid_cos"),
            (cos < F.lit(tau)).cast("int").alias("is_outlier"),
        )
    )


def decontaminate_vs_eval(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, max_eval_sim, nearest_eval, contaminated): for every corpus
    vector, its maximum cosine to ANY eval-set vector — SEMANTIC
    decontamination of training data against a benchmark, the
    embedding-space sibling of the Bloom n-gram filter
    (sketches.bloom_ngram_filter): n-grams catch verbatim leakage, cosine
    catches paraphrased leakage.

    The eval set is SMALL BY CONTRACT (a benchmark slice — the same
    bounded-side assumption every ANN query makes for its codebook): it is
    collected once into an Arrow closure and every corpus partition scores
    against it map-only, so the plan is one corpus scan with zero
    shuffles — at 100 TB the cost is the scan itself.

    Float parity: the eval set is collected like any query set
    (`_collect_queries`) and scored with `_codebook_affinities`:
    similarities accumulate SEQUENTIALLY over dims (the DuckDB list_sum
    fold order) and round via `_round6_spark` BEFORE the per-row max, so
    `max_eval_sim` is a max over already-identical rounded values;
    `nearest_eval` ties break to the smallest eval id (np.argmax first-hit
    over ids sorted ascending = SQL min() over the argmax set). Zero-norm
    vectors score 0 against everything (the guarded norm divides a zero
    numerator).
    """
    import numpy as np
    import pandas as pd

    q_ids, q_lists, q_norms, _ = _collect_queries(
        eval_df, id_col, vec_col, "decontaminate_vs_eval"
    )
    eval_ids = q_ids.astype(np.int64)
    ev = np.array(q_lists, dtype=np.float64)  # (e, dims)

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vec_id {id_type}, max_eval_sim double, nearest_eval bigint,"
        " contaminated int"
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _codebook_affinities(_vectors(pdf), ev, q_norms)
            best = sims.max(axis=1)
            nearest = eval_ids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["__id"].to_numpy(),
                    "max_eval_sim": best,
                    "nearest_eval": nearest,
                    "contaminated": (best >= tau).astype("int32"),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(score, out_schema)


RP_OUT_DIMS = 16
RP_SCALE = 1000


def rp_sign_matrix(out_dims: int = RP_OUT_DIMS, in_dims: int = 64) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i) is
    the parity of md5("rp:j:i") — reproducible from the seed strings alone,
    no RNG state. Generated driver-side once and baked into BOTH the Spark
    plan and the DuckDB oracle as literals, so no cross-engine hash
    agreement is needed at all."""
    import hashlib

    return [
        [
            1
            - 2
            * (
                int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:12], 16)
                % 2
            )
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = RP_OUT_DIMS,
    scale: int = RP_SCALE,
) -> DataFrame:
    """(vec_id, dim, proj): Johnson–Lindenstrauss ±1 random projection of
    the embedding column to `out_dims` dimensions — the standard cheap
    dimensionality reduction run BEFORE expensive ANN/dedup passes (a ±1
    Achlioptas matrix preserves pairwise distances within the JL bound at
    1/4 the dimensionality here, and the projected vectors are 4x cheaper
    to store, shuffle, and score).

    Exactness: elements quantize to integers (round(x*scale)), the
    projection is a sum of ±q_i per output dim — pure BIGINT arithmetic
    any engine reproduces. The sign matrix is deterministic
    (`rp_sign_matrix`) and enters the plan as LITERALS, so executors do no
    hashing. MAP-ONLY: one zip_with/aggregate fold per output dim over the
    scan, a single posexplode to gate-hashable scalar rows, no shuffle at
    any corpus size.
    """
    signs = rp_sign_matrix(out_dims)
    qvec = F.transform(F.col(vec_col), lambda x: _milli(x, scale))
    base = df.select(F.col(id_col).alias("vec_id"), qvec.alias("__q"))
    projs = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__q"),
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for j in range(out_dims)
        ]
    )
    return base.select("vec_id", F.posexplode(projs).alias("dim", "proj"))


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """(i, j, s): upper triangle (i <= j, 1-based) of the corpus Gram /
    uncentered second-moment matrix over milli-quantized embeddings — the
    input to PCA/whitening/feature-correlation audits of an embedding
    column.

    Plan: a vectorized Arrow pass computes one dims x dims int64 partial
    per batch (numpy integer matmul — exact, order-free) and emits
    dims*(dims+1)/2 rows per batch; a groupBy(i, j) over those partials
    reduces to one matrix. The shuffle volume is partials * cells
    (kilobytes), never corpus-sized — the same map-side-combine shape as a
    sum, with the quadratic dims work done batch-local in C. Exactness:
    quantized elements are exact integers, int64 sums are associative;
    per-element products bound |s| by dims-free (scale^2 * n), so int64
    holds to ~10^12 rows at scale=1000.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dims)
    out_i = (iu[0] + 1).astype(np.int32)
    out_j = (iu[1] + 1).astype(np.int32)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = _round_half_away_np(_vectors(pdf) * scale)
            g = q.T @ q  # exact int64 matmul
            yield pd.DataFrame({"i": out_i, "j": out_j, "s": g[iu]})

    part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
        partials, schema="i int, j int, s long"
    )
    return part.groupBy("i", "j").agg(F.sum("s").cast("bigint").alias("s"))


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS the
    `num_planes` buckets at Hamming distance 1 (one sign bit flipped) in
    every table, then exact-cosine re-ranks the candidate union.

    The recall/memory trade every production LSH index makes: probing
    b+1 buckets per table buys roughly the recall of (b+1)x as many
    tables while storing (and bucket-building over) L tables' worth of
    corpus — here 3 tables x 5 probes approach the 10-table single-probe
    index (ann_lsh_topk) at 30% of the index footprint. Only the query
    buckets widen (`_bucket_candidates`), so the corpus-side plan is
    identical to the single-probe index: one map-only bucket pass, join,
    `_rerank`.
    """
    q = _collect_queries(queries, id_col, vec_col, "cosine_topk_lsh_multiprobe")
    cand = _bucket_candidates(
        corpus, queries, q, num_planes, num_tables, dims, id_col, vec_col, True
    )
    return _rerank(_shortlist_rows(corpus, cand, id_col, vec_col), q, k)
