"""Similarity-search / sketch-dedup / multimodal queries (`embeddings`,
`documents`).

MinHash, SimHash, and hyperplane-LSH oracles are generated from the same
Python parameters as the Spark operators, so both engines evaluate
structurally identical expressions (same hash, same fold order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.dedup_scale import (
    HASH_CHARS,
    jaccard_for_pairs,
    lsh_candidate_pairs,
    minhash_wide,
    minhash_seed_coeffs,
    minhash_signatures,
    simhash,
)
from radar_output_restructure_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from radar_output_restructure_spark.operators.similarity import (
    _norm,
    _plane_weight,
    cosine_topk,
    cosine_topk_lsh,
)
from radar_output_restructure_spark.operators.text import FP_PRIME, horner_fold_sql
from radar_output_restructure_spark.queries import register
from radar_output_restructure_spark.queries_docs import SQL_SHINGLES
from radar_output_restructure_spark.sources.tables import (
    dataset_fingerprint,
    load_table,
    table_num_rows,
)

# ---------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pairs
# ---------------------------------------------------------------------------

NUM_HASHES = 8
ROWS_PER_BAND = 2

# seeded permutation (A_i*h0+B_i) mod p with (A_i, B_i) = minhash_seed_coeffs(i)
_SQL_MINHASH = f"""
    WITH sh AS ({SQL_SHINGLES}),
    h0 AS (
      SELECT doc, {horner_fold_sql("md", HASH_CHARS)} AS h0
      FROM (SELECT doc, md5(shingle) AS md FROM sh)
    ),
    hs AS (
      SELECT doc, seed,
             min(((131 + 2 * seed) * h0 + 1000003 * seed + 1) % {FP_PRIME})
               AS minhash
      FROM h0, (SELECT unnest(range({NUM_HASHES})) AS seed)
      GROUP BY doc, seed
    )
"""


@register(
    "minhash_signatures_docs",
    _SQL_MINHASH + "SELECT doc, seed, minhash FROM hs",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash vector: explode(shingle x seed) -> groupBy min."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return minhash_signatures(docs, num_hashes=NUM_HASHES)


@register(
    "minhash_lsh_pairs_docs",
    _SQL_MINHASH
    + f"""
    , bands AS (
      SELECT doc, seed // {ROWS_PER_BAND} AS band,
             md5(array_to_string(list_sort(
               list(CAST(seed AS VARCHAR) || ':' || CAST(minhash AS VARCHAR))), ','))
               AS band_hash
      FROM hs GROUP BY doc, seed // {ROWS_PER_BAND}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands a JOIN bands b USING (band, band_hash)
      WHERE a.doc < b.doc
    ),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle) WHERE a.doc < b.doc GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc = c.doc_a
    JOIN sizes sb ON sb.doc = c.doc_b
    WHERE round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) >= 0.5
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed candidate pairs verified with exact Jaccard >= 0.5 —
    the scalable near-dup path: candidate generation per band bucket, exact
    verification restricted to (broadcast) candidates, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    wide = minhash_wide(docs, num_hashes=NUM_HASHES)
    cand = lsh_candidate_pairs(wide, num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND)
    return (
        jaccard_for_pairs(docs, cand)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
_H = horner_fold_sql("md", HASH_CHARS)
_SQL_VOTES = ",\n             ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SQL_FP_SUM = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(SIMHASH_BITS)
)


SRC_SIM_HASHES = 16

_SQL_SRC_MINHASH = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source, s AS shingle
      FROM (SELECT doc_id, source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS words
            FROM documents) w,
           unnest([array_to_string(words[i:i+2], ' ')
                   for i in range(1, len(words) - 1)]) AS t(s)
    ),
    h0 AS (
      SELECT source, {horner_fold_sql("md", HASH_CHARS)} AS h0
      FROM (SELECT source, md5(shingle) AS md FROM sh)
    ),
    hs AS (
      SELECT source, seed,
             min(((131 + 2 * seed) * h0 + 1000003 * seed + 1) % {FP_PRIME})
               AS minhash
      FROM h0, (SELECT unnest(range({SRC_SIM_HASHES})) AS seed)
      GROUP BY source, seed
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matching,
           round(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                 / {SRC_SIM_HASHES}.0, 6) AS est_jaccard
    FROM hs a JOIN hs b ON a.seed = b.seed AND a.source < b.source
    GROUP BY a.source, b.source
"""


@register("source_similarity_minhash", _SQL_SRC_MINHASH)
def q_source_similarity_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated shingle-set Jaccard between every SOURCE pair — the
    mirror/partial-dump overlap matrix a crawl consults before doc-level
    dedup. Source-keyed MinHash (one shuffle row per source), then a
    broadcast self-join over the domain-cardinality signature frame; the
    exact shingle self-join this replaces dies on stop-grams at corpus
    scale (operators/dedup_scale.source_minhash_similarity)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        source_minhash_similarity,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return source_minhash_similarity(docs, num_hashes=SRC_SIM_HASHES)


@register(
    "simhash_docs",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, tok
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS words
            FROM documents) w,
           unnest(words) AS t(tok)
    ),
    hashed AS (SELECT doc, {_H} AS h
               FROM (SELECT doc, md5(tok) AS md FROM toks)),
    votes AS (
      SELECT doc,
             {_SQL_VOTES}
      FROM hashed GROUP BY doc
    )
    SELECT doc, {_SQL_FP_SUM} AS simhash FROM votes
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash via per-bit weighted majority of token hashes."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return simhash(docs, bits=SIMHASH_BITS)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

DIMS = 64
TOP_K = 5
N_QUERIES = 10

_SQL_DOT = (
    "list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) "
    f"for i in range(1, {DIMS + 1})])"
)
# zero-norm guard mirrors the Spark operators (similarity.py): a
# zero-norm vector pins sim at 0.0 instead of NaN (NaN would also rank
# differently across engines)
_SQL_QSSQ = f"list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) for i in range(1, {DIMS + 1})])"
_SQL_QNORM = f"(CASE WHEN ({_SQL_QSSQ}) = 0 THEN 1.0 ELSE sqrt({_SQL_QSSQ}) END)"
_SQL_CSSQ = f"list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, {DIMS + 1})])"
_SQL_CNORM = f"(CASE WHEN ({_SQL_CSSQ}) = 0 THEN 1.0 ELSE sqrt({_SQL_CSSQ}) END)"


@register(
    "embedding_norms",
    f"""
    SELECT vec_id, label,
           round(sqrt(list_sum(
             [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
              for i in range(1, {DIMS + 1})])), 6) AS norm
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.round(_norm(F.col("embedding")), 6).alias("norm")
    )


@register(
    "cosine_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM c, q WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast queries x partitioned corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K)


# hyperplane LSH: generate identical plane expressions for both engines
NUM_PLANES = 4
NUM_TABLES = 10


def _sql_bucket(vec: str, table: int, num_planes: int = NUM_PLANES) -> str:
    planes = []
    for i in range(num_planes):
        p = table * num_planes + i
        terms = ["0.0"]
        for d in range(DIMS):
            w = _plane_weight(p, d)
            if w != 0:
                terms.append(f"CAST({vec}[{d + 1}] AS DOUBLE) * {float(w)}")
        planes.append(f"CASE WHEN ({' + '.join(terms)}) > 0 THEN {2**i} ELSE 0 END")
    return " + ".join(planes)


def sql_buckets_union(
    num_planes: int = NUM_PLANES, num_tables: int = NUM_TABLES
) -> str:
    """The multi-table LSH bucket CTE body, parameterized so auto-sized
    plane counts (auto_num_planes) reuse the same generated-weights SQL."""
    return "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {t} AS tbl,"
        f" {_sql_bucket('embedding', t, num_planes)} AS bucket"
        " FROM embeddings"
        for t in range(num_tables)
    )


_SQL_BUCKETS_UNION = sql_buckets_union()


@register(
    "ann_lsh_topk",
    f"""
    WITH b AS (
{_SQL_BUCKETS_UNION}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM b c JOIN b q USING (tbl, bucket)
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = neighbor_id
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: multi-table sign-random-projection LSH (L tables of b
    planes -> union of bucket collisions), exact cosine re-rank over the
    candidate set. L tables turn per-table recall p into 1-(1-p)^L."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOP_K,
        num_planes=NUM_PLANES,
        num_tables=NUM_TABLES,
    )


# ---------------------------------------------------------------------------
# Multimodal binary plumbing (mapInPandas; deterministic fake features)
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: utf-8 payload bytes -> Arrow-batched
    mapInPandas feature extraction (byte length + md5 digest). The decode
    stub (operators/multimodal.decode_image) marks where a real codec plugs
    in; the batch shape and schema are the production ones."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    withbin = attach_binary_payload(docs)
    return extract_features(withbin).select("doc_id", "n_bytes", "digest")


# ---------------------------------------------------------------------------
# IVF-flat ANN: coarse quantizer cells + probe + exact re-rank
# ---------------------------------------------------------------------------

N_CENTROIDS = 16
NPROBE = 4

# cosine(vec, centroid) fragments over aliased columns v / centroid
_SQL_IVF_DOT = (
    "list_sum([CAST(v[i] AS DOUBLE) * CAST(centroid[i] AS DOUBLE) "
    f"for i in range(1, {DIMS + 1})])"
)
_SQL_IVF_VSSQ = f"list_sum([CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE) for i in range(1, {DIMS + 1})])"
_SQL_IVF_VNORM = f"(CASE WHEN ({_SQL_IVF_VSSQ}) = 0 THEN 1.0 ELSE sqrt({_SQL_IVF_VSSQ}) END)"
_SQL_IVF_CSSQ = f"list_sum([CAST(centroid[i] AS DOUBLE) * CAST(centroid[i] AS DOUBLE) for i in range(1, {DIMS + 1})])"
_SQL_IVF_CNORM = f"(CASE WHEN ({_SQL_IVF_CSSQ}) = 0 THEN 1.0 ELSE sqrt({_SQL_IVF_CSSQ}) END)"


def _sql_ivf_cells(source_filter: str, nprobe: int) -> str:
    return f"""
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY round(({_SQL_IVF_DOT}) / ({_SQL_IVF_VNORM} * {_SQL_IVF_CNORM}), 6) DESC,
                          c.cell ASC) AS r
        FROM (SELECT vec_id, embedding AS v FROM embeddings {source_filter}) s
        CROSS JOIN (SELECT vec_id AS cell, embedding AS centroid FROM embeddings
                    WHERE vec_id < {N_CENTROIDS}) c
      ) WHERE r <= {nprobe}
    """


@register(
    "ann_ivf_topk",
    f"""
    WITH corpus_cells AS ({_sql_ivf_cells("", 1)}),
    query_cells AS ({_sql_ivf_cells(f"WHERE vec_id < {N_QUERIES}", NPROBE)}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM corpus_cells c JOIN query_cells q USING (cell)
      WHERE c.vec_id != q.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = neighbor_id
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: 16 deterministic coarse centroids (first 16 vectors
    standing in for a k-means codebook), corpus indexed to its home cell,
    queries probe 4 cells, exact cosine re-rank — the bucket-partitioned
    complement of the multi-table LSH path (operators/similarity.py
    cosine_topk_ivf)."""
    from radar_output_restructure_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS)
    return cosine_topk_ivf(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        centroids,
        k=TOP_K,
        nprobe=NPROBE,
    )


# ---------------------------------------------------------------------------
# Self-trained IVF: deterministic k-means codebook, then the same probe path
# ---------------------------------------------------------------------------

KM_ITERS = 3

#: integer-micro quantization of an embedding (exact, associative sums)
_SQL_KM_MICRO = (
    "[CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) "
    f"for i in range(1, {DIMS + 1})]"
)
#: micro-centroid back to double, elementwise
_SQL_KM_DEQUANT = f"[cm[i] / 1000000.0 for i in range(1, {DIMS + 1})]"


def _sql_kmeans_ctes(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations as a CTE chain (no recursion needed —
    `iters` is a fixed small constant). Mirrors
    operators/similarity.train_ivf_centroids step for step: md5-ordered
    seeds, 6-decimal cosine assignment with lowest-cell ties, exact
    integer-micro sums, floor(sum * 1.0 / count) means, empty cells
    carrying the previous centroid."""
    ctes = [
        f"""cent0 AS (
      SELECT cell, cm FROM (
        SELECT row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
               {_SQL_KM_MICRO} AS cm
        FROM embeddings
      ) WHERE cell < {k}
    )"""
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""assign{t} AS (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY round(({_SQL_IVF_DOT}) / ({_SQL_IVF_VNORM} * {_SQL_IVF_CNORM}), 6) DESC,
                          c.cell ASC) AS r
        FROM (SELECT vec_id, embedding AS v FROM embeddings) s
        CROSS JOIN (SELECT cell, {_SQL_KM_DEQUANT} AS centroid FROM cent{t - 1}) c
      ) WHERE r = 1
    )"""
        )
        ctes.append(
            f"""sums{t} AS (
      SELECT a.cell, d.i, count(*) AS cnt,
             sum(CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1000000) AS BIGINT)) AS s
      FROM assign{t} a
      JOIN embeddings e USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, {DIMS + 1})) AS i) d
      GROUP BY a.cell, d.i
    )"""
        )
        ctes.append(
            f"""cent{t} AS (
      SELECT cell, list(CAST(FLOOR(s * 1.0 / cnt) AS BIGINT) ORDER BY i) AS cm
      FROM sums{t} GROUP BY cell
      UNION ALL
      SELECT p.cell, p.cm FROM cent{t - 1} p
      WHERE p.cell NOT IN (SELECT DISTINCT cell FROM sums{t})
    )"""
        )
    return ",\n    ".join(ctes)


def _sql_trained_cells(source_filter: str, nprobe: int, iters: int) -> str:
    return f"""
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY round(({_SQL_IVF_DOT}) / ({_SQL_IVF_VNORM} * {_SQL_IVF_CNORM}), 6) DESC,
                          c.cell ASC) AS r
        FROM (SELECT vec_id, embedding AS v FROM embeddings {source_filter}) s
        CROSS JOIN (SELECT cell, {_SQL_KM_DEQUANT} AS centroid FROM cent{iters}) c
      ) WHERE r <= {nprobe}
    """


@register(
    "ann_ivf_trained_topk",
    f"""
    WITH {_sql_kmeans_ctes(N_CENTROIDS, KM_ITERS)},
    corpus_cells AS ({_sql_trained_cells("", 1, KM_ITERS)}),
    query_cells AS ({_sql_trained_cells(f"WHERE vec_id < {N_QUERIES}", NPROBE, KM_ITERS)}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM corpus_cells c JOIN query_cells q USING (cell)
      WHERE c.vec_id != q.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = neighbor_id
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained IVF-flat ANN: the codebook comes from deterministic
    k-means (operators/similarity.train_ivf_centroids — md5-seeded init,
    integer-micro Lloyd updates), then the standard home-cell index /
    nprobe probe / exact re-rank. The oracle replays the identical
    training arithmetic as unrolled SQL CTEs, so even the learned
    centroids hash-match across engines."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(
        emb, k=N_CENTROIDS, iters=KM_ITERS, dims=DIMS
    )
    return cosine_topk_ivf(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        centroids,
        k=TOP_K,
        nprobe=NPROBE,
    )


#: cosine at or above which two same-cell vectors are semantic duplicates
SEMDEDUP_TAU = 0.4
#: target vectors per k-means cell: k scales as ceil(n / this), which holds
#: the per-cell pairwise-verify work CONSTANT per cell (linear overall) —
#: the whole reason SemDeDup clusters first. 10x-tiling stress with k
#: pinned at 16 measured x7.3 (quadratic in cell occupancy); auto-k holds
#: the plan linear. The oracle pre-bakes k for the driver's fixed sf0.01
#: gate (500 vectors -> 16 cells), exactly like queries_stream's
#: AUTO_GATE_PLANES.
SEM_TARGET_CELL = 32
SEM_GATE_N = 500  # embeddings rows at the driver's fixed sf0.01 gate


def sem_auto_cells(n: int) -> int:
    """Cell count for a corpus of n vectors: ceil(n / SEM_TARGET_CELL),
    floored at the gate's 16."""
    return max(16, -(-n // SEM_TARGET_CELL))


#: the oracle pre-bakes the gate cardinality's k through the SAME function
#: the Spark path sizes with (sem_auto_cells of the footer row count,
#: `table_num_rows`, so building the query runs no count job) — an inline
#: re-derivation here could silently drift from a future floor/target change
SEM_GATE_K = sem_auto_cells(SEM_GATE_N)  # = 16 at the gate


@register(
    "semantic_dedup_embeddings",
    f"""
    WITH {_sql_kmeans_ctes(SEM_GATE_K, KM_ITERS)},
    cells AS ({_sql_trained_cells("", 1, KM_ITERS)}),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell
      FROM cells a JOIN cells b USING (cell)
      WHERE a.vec_id < b.vec_id
    ),
    sims AS (
      SELECT vec_a, vec_b,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = vec_a
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = vec_b
    ),
    pairs AS (SELECT vec_a, vec_b FROM sims WHERE sim >= {SEMDEDUP_TAU}),
    sides AS (
      SELECT vec_a AS vec_id, 0 AS d FROM pairs
      UNION ALL
      SELECT vec_b AS vec_id, 1 AS d FROM pairs
    ),
    agg AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups, max(d) AS dropped
      FROM sides GROUP BY vec_id
    )
    SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
           coalesce(a.n_dups, CAST(0 AS BIGINT)) AS n_dups,
           CAST(coalesce(a.dropped, 0) = 0 AS INT) AS kept
    FROM cells c LEFT JOIN agg a USING (vec_id)
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication: deterministic k-means clusters the
    embedding space, exact cosine verifies ONLY within each cluster, and
    the smaller id survives each above-threshold relation. Per-cell
    population is held constant by sizing k with the corpus, so the
    quadratic verify work stays linear overall — the property that makes
    SemDeDup the curation-scale semantic dedup (operators/similarity.
    semantic_dedup). k tracks the corpus (`sem_auto_cells`, constant
    target cell size — 10x stress with k pinned at 16 measured x7.3);
    the oracle pre-bakes the gate cardinality's k = 16, which
    sem_auto_cells(500) reproduces. It replays the identical Lloyd
    training as unrolled CTEs, so even cluster assignments hash-match."""
    from radar_output_restructure_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = sem_auto_cells(table_num_rows(spark, sf_dir, "embeddings"))
    centroids = train_ivf_centroids(emb, k=k, iters=KM_ITERS, dims=DIMS)
    return semantic_dedup(emb, centroids, SEMDEDUP_TAU)


@register(
    "embedding_quantize",
    f"""
    WITH s AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN 1.0 ELSE m END AS scale
      FROM (SELECT vec_id,
                   list_max([abs(CAST(embedding[i] AS DOUBLE))
                             for i in range(1, {DIMS + 1})]) AS m
            FROM embeddings)
    )
    SELECT e.vec_id, d.i AS dim,
           CAST(round(CAST(e.embedding[d.i] AS DOUBLE) / s.scale * 127.0)
                AS INTEGER) AS q,
           round(s.scale, 6) AS scale
    FROM embeddings e
    JOIN s ON s.vec_id = e.vec_id
    CROSS JOIN (SELECT unnest(range(1, {DIMS + 1})) AS i) d
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (4x storage cut before ANN
    indexing): scale = max|x|, q = round(x/scale*127). Map-only — one
    array fold + posexplode, no shuffle at any corpus size
    (operators/similarity.quantize_embeddings). Emitted exploded so the
    gate hashes scalar cells."""
    from radar_output_restructure_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb)


SIMHASH_MAX_HAMMING = 3


# wide (scale-safe) simhash: two independent 32-bit halves from two Horner
# folds of the SAME md5 (hex chars 1..12 and 13..24)
_H_HI = horner_fold_sql(f"substr(md, {HASH_CHARS + 1}, {HASH_CHARS})", HASH_CHARS)
_SQL_VOTES_WIDE = ",\n             ".join(
    f"sum(CASE WHEN (h_{half} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS {half}_v{b}"
    for half in ("lo", "hi")
    for b in range(32)
)


def _sql_fp_sum_wide(half: str) -> str:
    return " + ".join(
        f"CASE WHEN {half}_v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(32)
    )


#: 4 x 16-bit banding over the wide fingerprint — ONE definition shared by
#: simhash_near_dup_docs and snapshot_neardup_delta_docs, mirroring the
#: operator side's single _banded (dedup_scale.py) so the two oracles
#: can never drift in banding geometry.
_SQL_BAND_WIDE = (
    "SELECT doc, i AS band,\n"
    "             ((CASE WHEN i < 2 THEN fp_lo ELSE fp_hi END)"
    " >> ((i % 2) * 16)) & 65535 AS bv\n"
    "      FROM fp, (SELECT unnest(range(4)) AS i)"
)


def _sql_wide_fp_ctes(text_expr: str = "text") -> str:
    """The toks -> hashed -> votes -> fp CTE chain computing the wide
    (two 32-bit halves) simhash per document — shared by the two wide-
    simhash oracles (same one-definition rule as _SQL_BAND_WIDE).
    `text_expr` lets snapshot_neardup_delta_docs apply the NULL-as-empty
    coalesce while simhash_near_dup_docs keeps raw text semantics."""
    return f"""toks AS (
      SELECT doc_id AS doc, tok
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim({text_expr})), '\\s+')
                     AS words
            FROM documents) w,
           unnest(words) AS t(tok)
    ),
    hashed AS (SELECT doc, {_H} AS h_lo, {_H_HI} AS h_hi
               FROM (SELECT doc, md5(tok) AS md FROM toks)),
    votes AS (
      SELECT doc,
             {_SQL_VOTES_WIDE}
      FROM hashed GROUP BY doc
    ),
    fp AS (SELECT doc, {_sql_fp_sum_wide('lo')} AS fp_lo,
                  {_sql_fp_sum_wide('hi')} AS fp_hi FROM votes)"""


@register(
    "simhash_near_dup_docs",
    f"""
    WITH {_sql_wide_fp_ctes()},
    b AS (
      {_SQL_BAND_WIDE}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, c.doc AS doc_b
      FROM b a JOIN b c USING (band, bv)
      WHERE a.doc < c.doc
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(fa.fp_lo, fb.fp_lo))
                + bit_count(xor(fa.fp_hi, fb.fp_hi)) AS INTEGER) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc = c.doc_a
    JOIN fp fb ON fb.doc = c.doc_b
    WHERE bit_count(xor(fa.fp_lo, fb.fp_lo))
          + bit_count(xor(fa.fp_hi, fb.fp_hi)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, scale-safe geometry: 64-bit fingerprint (two
    32-bit halves), 4x16-bit bands = 65,536 buckets/band, exact pigeonhole
    recall for hamming <= 3, in-join popcount verify
    (operators/dedup_scale.simhash_near_dup_pairs_wide).

    This undecorated name IS the wide geometry (r6-verdict demotion: the
    32-bit/8-bit-band configuration that previously held this name has only
    1,024 fixed buckets, so per-bucket verify grows quadratically — it now
    lives only in scripts/scale_stress.py as
    `simhash_near_dup_32bit_reference`). Occupancy stays bounded ~256x
    further than the 32-bit geometry at the same corpus size."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash_near_dup_pairs_wide,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return simhash_near_dup_pairs_wide(docs, max_hamming=SIMHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# kNN label-accuracy evaluation (embedding-quality probe)
# ---------------------------------------------------------------------------

KNN_N_QUERIES = 100


@register(
    "knn_label_accuracy",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id < {KNN_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nbr_label
          FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id, nbr_label,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM c, q WHERE neighbor_id != query_id
    ),
    topk AS (
      SELECT query_id, nbr_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM sims
      ) WHERE rank <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, nbr_label, count(*) AS n_votes
      FROM topk GROUP BY 1, 2
    ),
    pred AS (
      SELECT query_id, nbr_label AS pred_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY n_votes DESC, nbr_label ASC NULLS FIRST) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS accuracy
    FROM pred JOIN q USING (query_id)
    GROUP BY true_label
    """,
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe: k-NN majority-vote label prediction over the
    labeled corpus, accuracy per true label — the standard eval a pipeline
    runs after (re)embedding to catch representation regressions. Votes tie
    to the smallest label; ranking uses the deterministic rounded-cosine +
    id ordering of the ANN family. The corpus side stays partitioned (the
    query set broadcasts), so the plan scales like cosine_topk."""
    from radar_output_restructure_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    topk = cosine_topk(
        emb, emb.filter(F.col("vec_id") < KNN_N_QUERIES), k=TOP_K
    )
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nbr_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label").asc()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("nbr_label").alias("pred_label"))
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            F.round(
                F.sum(correct) * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (spherical subquantizers + ADC scoring)
# ---------------------------------------------------------------------------

PQ_M = 4
PQ_SD = DIMS // PQ_M
PQ_K = 16
PQ_ITERS = 2


def _sql_pq_src(s: int) -> str:
    """Subspace dim-slice of the embeddings table (1-based inclusive)."""
    lo, hi = s * PQ_SD + 1, (s + 1) * PQ_SD
    return (
        f"(SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM embeddings)"
    )


def _sql_pq_cos(sd: int) -> tuple[str, str, str]:
    dot = (
        "list_sum([CAST(v[i] AS DOUBLE) * CAST(centroid[i] AS DOUBLE) "
        f"for i in range(1, {sd + 1})])"
    )
    vssq = (
        "list_sum([CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE) "
        f"for i in range(1, {sd + 1})])"
    )
    vnorm = f"(CASE WHEN ({vssq}) = 0 THEN 1.0 ELSE sqrt({vssq}) END)"
    cssq = (
        "list_sum([CAST(centroid[i] AS DOUBLE) * CAST(centroid[i] AS DOUBLE) "
        f"for i in range(1, {sd + 1})])"
    )
    cnorm = f"(CASE WHEN ({cssq}) = 0 THEN 1.0 ELSE sqrt({cssq}) END)"
    return dot, vnorm, cnorm


def _sql_pq_kmeans_ctes(k: int, iters: int, sd: int, src: str, tag: str) -> str:
    """The deterministic-Lloyd CTE chain of `_sql_kmeans_ctes`, parameterized
    for a PQ subspace: `src` replaces the embeddings table (a dim-slice
    subquery), `sd` the dimensionality, `tag` suffixes every CTE name.
    Mirrors operators/similarity.train_ivf_centroids on the sliced frame
    step for step (same seeds — the md5 id order is slice-independent)."""
    dot, vnorm, cnorm = _sql_pq_cos(sd)
    micro = (
        "[CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) "
        f"for i in range(1, {sd + 1})]"
    )
    dequant = f"[cm[i] / 1000000.0 for i in range(1, {sd + 1})]"
    ctes = [
        f"""cent0{tag} AS (
      SELECT cell, cm FROM (
        SELECT row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
               {micro} AS cm
        FROM {src}
      ) WHERE cell < {k}
    )"""
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""assign{t}{tag} AS (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY round(({dot}) / ({vnorm} * {cnorm}), 6) DESC,
                          c.cell ASC) AS r
        FROM (SELECT vec_id, embedding AS v FROM {src}) s
        CROSS JOIN (SELECT cell, {dequant} AS centroid FROM cent{t - 1}{tag}) c
      ) WHERE r = 1
    )"""
        )
        ctes.append(
            f"""sums{t}{tag} AS (
      SELECT a.cell, d.i, count(*) AS cnt,
             sum(CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1000000) AS BIGINT)) AS s
      FROM assign{t}{tag} a
      JOIN {src} e USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, {sd + 1})) AS i) d
      GROUP BY a.cell, d.i
    )"""
        )
        ctes.append(
            f"""cent{t}{tag} AS (
      SELECT cell, list(CAST(FLOOR(s * 1.0 / cnt) AS BIGINT) ORDER BY i) AS cm
      FROM sums{t}{tag} GROUP BY cell
      UNION ALL
      SELECT p.cell, p.cm FROM cent{t - 1}{tag} p
      WHERE p.cell NOT IN (SELECT DISTINCT cell FROM sums{t}{tag})
    )"""
        )
    return ",\n    ".join(ctes)


def _sql_pq_codes(s: int) -> str:
    dot, vnorm, cnorm = _sql_pq_cos(PQ_SD)
    dequant = f"[cm[i] / 1000000.0 for i in range(1, {PQ_SD + 1})]"
    return f"""codes_s{s} AS (
      SELECT vec_id, cell AS k{s} FROM (
        SELECT s.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY round(({dot}) / ({vnorm} * {cnorm}), 6) DESC,
                          c.cell ASC) AS r
        FROM (SELECT vec_id, embedding AS v FROM {_sql_pq_src(s)}) s
        CROSS JOIN (SELECT cell, {dequant} AS centroid
                    FROM cent{PQ_ITERS}_s{s}) c
      ) WHERE r = 1
    )"""


def _sql_pq_adc_terms() -> tuple[str, str]:
    dots = []
    csqs = []
    for s in range(PQ_M):
        lo = s * PQ_SD
        dots.append(
            f"(list_sum([CAST(qv[i] AS DOUBLE) * c{s}[i - {lo}] "
            f"for i in range({lo + 1}, {lo + PQ_SD + 1})]))"
        )
        csqs.append(
            f"(list_sum([c{s}[i] * c{s}[i] for i in range(1, {PQ_SD + 1})]))"
        )
    return " + ".join(dots), " + ".join(csqs)


_SQL_PQ_DOT, _SQL_PQ_CSQ = _sql_pq_adc_terms()
_SQL_PQ_DEQUANT = f"[cm[i] / 1000000.0 for i in range(1, {PQ_SD + 1})]"
_SQL_PQ_TRAIN = ",\n    ".join(
    _sql_pq_kmeans_ctes(PQ_K, PQ_ITERS, PQ_SD, _sql_pq_src(s), f"_s{s}")
    for s in range(PQ_M)
)
_SQL_PQ_CODES = ",\n    ".join(_sql_pq_codes(s) for s in range(PQ_M))


@register(
    "ann_pq_topk",
    f"""
    WITH {_SQL_PQ_TRAIN},
    {_SQL_PQ_CODES},
    codes AS (
      SELECT c0.vec_id, c0.k0, c1.k1, c2.k2, c3.k3
      FROM codes_s0 c0
      JOIN codes_s1 c1 USING (vec_id)
      JOIN codes_s2 c2 USING (vec_id)
      JOIN codes_s3 c3 USING (vec_id)
    ),
    scored AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             round(({_SQL_PQ_DOT})
                   / (({_SQL_QNORM})
                      * (CASE WHEN ({_SQL_PQ_CSQ}) = 0 THEN 1.0
                         ELSE sqrt({_SQL_PQ_CSQ}) END)), 6) AS sim
      FROM codes x
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c0 FROM cent{PQ_ITERS}_s0) t0 ON t0.cell = x.k0
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c1 FROM cent{PQ_ITERS}_s1) t1 ON t1.cell = x.k1
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c2 FROM cent{PQ_ITERS}_s2) t2 ON t2.cell = x.k2
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c3 FROM cent{PQ_ITERS}_s3) t3 ON t3.cell = x.k3
      CROSS JOIN (SELECT vec_id, embedding AS qv FROM embeddings
                  WHERE vec_id < {N_QUERIES}) q
      WHERE x.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 4 spherical 16-dim subquantizers trained
    with the deterministic Lloyd machinery, corpus encoded to 4 small ints
    per vector, queries scored against the codes via ADC lookup tables —
    cosine(q, reconstruction). The oracle replays subspace training,
    encoding, and the ADC sum as unrolled SQL, so even the compressed
    approximation hash-matches across engines
    (operators/similarity.cosine_topk_pq)."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pq(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOP_K,
        m=PQ_M,
        codebook_k=PQ_K,
        iters=PQ_ITERS,
        dims=DIMS,
    )


RANGE_THRESHOLD = 0.3


@register(
    "cosine_range_search",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
    SELECT query_id, neighbor_id,
           round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
    FROM c, q
    WHERE neighbor_id != query_id
      AND round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6)
          >= {RANGE_THRESHOLD}
    """,
)
def q_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every corpus vector within cosine >= 0.3 of each
    query. ZERO-shuffle by construction — the threshold is applied inside
    the map-only scoring pass, so unlike top-k there is not even a ranking
    exchange; cost is exactly one corpus scan at any scale
    (operators/similarity.cosine_range_search)."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_range_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_range_search(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        threshold=RANGE_THRESHOLD,
    )


def _recall_oracle_sql(approx: str) -> str:
    """Compose a recall@k oracle: the exact brute-force top-k oracle vs a
    given approx top-k oracle — both support WITH-in-subquery, so they
    nest verbatim. ONE definition serves all four recall audits (LSH,
    IVF-PQ, IVF-PQ+rerank, int8) so a fix to the n_matched join or the
    recall_micro rounding can never drift between them."""
    from radar_output_restructure_spark.queries import ORACLES

    exact = ORACLES["cosine_topk_bruteforce"]
    return f"""
    WITH exact_k AS (SELECT query_id, neighbor_id FROM ({exact})),
    approx_k AS (SELECT query_id, neighbor_id FROM ({approx})),
    matched AS (
      SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_matched
      FROM exact_k e
      LEFT JOIN approx_k a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY 1
    )
    SELECT query_id, n_matched,
           CAST(round(n_matched * 1000000.0 / {TOP_K}, 0) AS BIGINT)
             AS recall_micro
    FROM matched
    """


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Spark side of the recall@k composition — the single mirror of
    `_recall_oracle_sql` (per-query n_matched over a left overlap join,
    recall_micro = round(n_matched * 1e6 / k))."""
    approx = approx.select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    matched = (
        exact.select("query_id", "neighbor_id")
        .join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count(F.col("an")).cast("bigint").alias("n_matched"))
    )
    return matched.select(
        "query_id",
        "n_matched",
        F.round(F.col("n_matched") * 1_000_000.0 / TOP_K, 0)
        .cast("long")
        .alias("recall_micro"),
    )


def _lsh_recall_oracle_sql() -> str:
    from radar_output_restructure_spark.queries import ORACLES

    return _recall_oracle_sql(ORACLES["ann_lsh_topk"])


@register("ann_recall_at_k", _lsh_recall_oracle_sql())
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index against the exact brute-force ranking —
    the index-quality gauge every ANN deployment needs before trusting an
    approximate path (tune planes/tables until recall clears the bar).
    Composes the two existing operators; the per-query overlap join is
    queries x k rows, so the evaluation itself is driver-negligible at any
    corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    # The <=N_QUERIES probe frame feeds BOTH the exact and the approx leg;
    # materialize it once (lazy localCheckpoint) so each recall audit pays
    # one probe-side parquet scan instead of one per reference (r12: scan
    # count drops in every recall plan; rows identical by construction).
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).localCheckpoint(
        eager=False
    )
    exact = cosine_topk(emb, queries_df, k=TOP_K)
    approx = cosine_topk_lsh(
        emb, queries_df, k=TOP_K, num_planes=NUM_PLANES, num_tables=NUM_TABLES
    )
    return _recall_vs_exact(exact, approx)


@register(
    "ann_ivfpq_topk",
    f"""
    WITH {_SQL_PQ_TRAIN},
    {_SQL_PQ_CODES},
    codes AS (
      SELECT c0.vec_id, c0.k0, c1.k1, c2.k2, c3.k3
      FROM codes_s0 c0
      JOIN codes_s1 c1 USING (vec_id)
      JOIN codes_s2 c2 USING (vec_id)
      JOIN codes_s3 c3 USING (vec_id)
    ),
    corpus_cells AS ({_sql_ivf_cells("", 1)}),
    query_cells AS ({_sql_ivf_cells(f"WHERE vec_id < {N_QUERIES}", NPROBE)}),
    scored AS (
      SELECT qc.vec_id AS query_id, x.vec_id AS neighbor_id,
             round(({_SQL_PQ_DOT})
                   / (({_SQL_QNORM})
                      * (CASE WHEN ({_SQL_PQ_CSQ}) = 0 THEN 1.0
                         ELSE sqrt({_SQL_PQ_CSQ}) END)), 6) AS sim
      FROM codes x
      JOIN corpus_cells cc ON cc.vec_id = x.vec_id
      JOIN query_cells qc ON qc.cell = cc.cell
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c0 FROM cent{PQ_ITERS}_s0) t0 ON t0.cell = x.k0
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c1 FROM cent{PQ_ITERS}_s1) t1 ON t1.cell = x.k1
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c2 FROM cent{PQ_ITERS}_s2) t2 ON t2.cell = x.k2
      JOIN (SELECT cell, {_SQL_PQ_DEQUANT} AS c3 FROM cent{PQ_ITERS}_s3) t3 ON t3.cell = x.k3
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings
            WHERE vec_id < {N_QUERIES}) q ON q.vec_id = qc.vec_id
      WHERE x.vec_id != qc.vec_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (the canonical billion-scale index): coarse
    inverted file prunes candidates (queries probe 4 of 16 cells), then
    only the probed cells' 4-byte PQ codes are ADC-scored — raw vectors
    untouched at query time, most of the corpus never scored at all. The
    oracle replays coarse assignment, subquantizer training, encoding, and
    the ADC fold as one SQL chain
    (operators/similarity.cosine_topk_ivfpq)."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_ivfpq(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb.filter(F.col("vec_id") < N_CENTROIDS),
        k=TOP_K,
        nprobe=NPROBE,
        m=PQ_M,
        codebook_k=PQ_K,
        iters=PQ_ITERS,
        dims=DIMS,
    )


def _pq_recall_oracle_sql() -> str:
    """Recall@k for the compressed composite index, composed via the shared
    `_recall_oracle_sql` (same single definition as ann_recall_at_k)."""
    from radar_output_restructure_spark.queries import ORACLES

    return _recall_oracle_sql(ORACLES["ann_ivfpq_topk"])


@register("ann_ivfpq_recall_at_k", _pq_recall_oracle_sql())
def q_ann_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ composite index against the exact ranking —
    quantifies BOTH approximation losses at once (cells not probed + code
    quantization error), the number that decides nprobe/m/codebook_k
    settings before a deployment trusts the compressed path."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The <=N_QUERIES probe frame feeds BOTH the exact and the approx leg;
    # materialize it once (lazy localCheckpoint) so each recall audit pays
    # one probe-side parquet scan instead of one per reference (r12: scan
    # count drops in every recall plan; rows identical by construction).
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).localCheckpoint(
        eager=False
    )
    exact = cosine_topk(emb, queries_df, k=TOP_K)
    approx = cosine_topk_ivfpq(
        emb,
        queries_df,
        emb.filter(F.col("vec_id") < N_CENTROIDS),
        k=TOP_K,
        nprobe=NPROBE,
        m=PQ_M,
        codebook_k=PQ_K,
        iters=PQ_ITERS,
        dims=DIMS,
    )
    return _recall_vs_exact(exact, approx)


# exact re-ranking of the IVF-PQ shortlist (production refinement step)
RERANK_REFINE = 3


def _ivfpq_shortlist_oracle_sql(k: int) -> str:
    """The registered IVF-PQ oracle re-parameterized to a different k: its
    single final `rank <= TOP_K` literal widens to the shortlist size
    (verbatim nesting, same pattern as the recall compositions)."""
    from radar_output_restructure_spark.queries import ORACLES

    base = ORACLES["ann_ivfpq_topk"]
    needle = f"WHERE rank <= {TOP_K}"
    assert base.count(needle) == 1, "ivfpq oracle shape changed"
    return base.replace(needle, f"WHERE rank <= {k}")


def _rerank_oracle_sql() -> str:
    shortlist = _ivfpq_shortlist_oracle_sql(TOP_K * RERANK_REFINE)
    return f"""
    WITH approx AS (SELECT query_id, neighbor_id FROM ({shortlist})),
    rescored AS (
      SELECT a.query_id, a.neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM approx a
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c
        ON c.vec_id = a.neighbor_id
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q
        ON q.vec_id = a.query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_ivfpq_rerank_topk", _rerank_oracle_sql())
def q_ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact re-ranking — the full production retrieval shape: the
    compressed index proposes refine*k candidates via ADC over 4-byte
    codes, then only those candidates' raw vectors are scored exactly
    (operators/similarity.exact_rerank: broadcast shortlist prunes the
    corpus scan, map-only Arrow scoring, kilobyte final window). Recovers
    the recall the code quantization loses at the cost of reading
    refine*k raw vectors per query instead of zero."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_ivfpq,
        exact_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    shortlist = cosine_topk_ivfpq(
        emb,
        queries_df,
        emb.filter(F.col("vec_id") < N_CENTROIDS),
        k=TOP_K * RERANK_REFINE,
        nprobe=NPROBE,
        m=PQ_M,
        codebook_k=PQ_K,
        iters=PQ_ITERS,
        dims=DIMS,
    )
    return exact_rerank(emb, queries_df, shortlist, k=TOP_K)


def _rerank_recall_oracle_sql() -> str:
    return _recall_oracle_sql(_rerank_oracle_sql())


@register("ann_ivfpq_rerank_recall_at_k", _rerank_recall_oracle_sql())
def q_ann_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF-PQ WITH exact re-ranking against the exact ranking —
    the number that justifies the refinement step: compare with
    ann_ivfpq_recall_at_k to see how much recall the exact rescoring of a
    3x shortlist buys back from the quantization error."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_ivfpq,
        exact_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The <=N_QUERIES probe frame feeds BOTH the exact and the approx leg;
    # materialize it once (lazy localCheckpoint) so each recall audit pays
    # one probe-side parquet scan instead of one per reference (r12: scan
    # count drops in every recall plan; rows identical by construction).
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).localCheckpoint(
        eager=False
    )
    exact = cosine_topk(emb, queries_df, k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    shortlist = cosine_topk_ivfpq(
        emb,
        queries_df,
        emb.filter(F.col("vec_id") < N_CENTROIDS),
        k=TOP_K * RERANK_REFINE,
        nprobe=NPROBE,
        m=PQ_M,
        codebook_k=PQ_K,
        iters=PQ_ITERS,
        dims=DIMS,
    )
    approx = exact_rerank(emb, queries_df, shortlist, k=TOP_K)
    return _recall_vs_exact(exact, approx)


# ---------------------------------------------------------------------------
# int8-quantized ANN: exact integer-dot scoring over 8x-compressed codes
# ---------------------------------------------------------------------------

_SQL_INT8_CODES = f"""
    sc AS (
      SELECT vec_id, CASE WHEN m = 0 THEN 1.0 ELSE m END AS scale
      FROM (SELECT vec_id,
                   list_max([abs(CAST(embedding[i] AS DOUBLE))
                             for i in range(1, {DIMS + 1})]) AS m
            FROM embeddings)
    ),
    codes AS (
      SELECT e.vec_id,
             [CAST(round(CAST(e.embedding[i] AS DOUBLE) / s.scale * 127.0)
                   AS BIGINT) for i in range(1, {DIMS + 1})] AS q
      FROM embeddings e JOIN sc s ON s.vec_id = e.vec_id
    )
"""

_SQL_INT8_DOT = f"list_sum([qa[i] * qb[i] for i in range(1, {DIMS + 1})])"
# zero-norm guards mirror the Spark scorer (a zero vector pins sim 0.0)
_SQL_INT8_QSSQ = (
    f"CAST(list_sum([qa[i] * qa[i] for i in range(1, {DIMS + 1})]) AS DOUBLE)"
)
_SQL_INT8_QNORM = (
    f"(CASE WHEN ({_SQL_INT8_QSSQ}) = 0 THEN 1.0"
    f" ELSE sqrt({_SQL_INT8_QSSQ}) END)"
)
_SQL_INT8_CSSQ = (
    f"CAST(list_sum([qb[i] * qb[i] for i in range(1, {DIMS + 1})]) AS DOUBLE)"
)
_SQL_INT8_CNORM = (
    f"(CASE WHEN ({_SQL_INT8_CSSQ}) = 0 THEN 1.0"
    f" ELSE sqrt({_SQL_INT8_CSSQ}) END)"
)


@register(
    "ann_int8_topk",
    f"""
    WITH {_SQL_INT8_CODES},
    qs AS (SELECT vec_id AS query_id, q AS qa FROM codes
           WHERE vec_id < {N_QUERIES}),
    cs AS (SELECT vec_id AS neighbor_id, q AS qb FROM codes),
    sims AS (
      SELECT query_id, neighbor_id,
             round(CAST({_SQL_INT8_DOT} AS DOUBLE)
                   / ({_SQL_INT8_QNORM} * {_SQL_INT8_CNORM}), 6) AS sim
      FROM cs, qs WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over int8-quantized code vectors — the
    RAM-resident serving path (8x smaller corpus, SIMD integer dots). The
    per-vector scales cancel in cosine, so the score is an integer dot
    over two integer-sum norms: exact in any accumulation order on any
    engine, the one ANN variant needing no fold-order discipline
    (operators/similarity.cosine_topk_int8)."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_int8(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K
    )


def _int8_recall_oracle_sql() -> str:
    """Recall@k of the int8 path against full-precision brute force — the
    quantization-loss gauge, via the shared `_recall_oracle_sql`."""
    from radar_output_restructure_spark.queries import ORACLES

    return _recall_oracle_sql(ORACLES["ann_int8_topk"])


@register("ann_int8_recall_at_k", _int8_recall_oracle_sql())
def q_ann_int8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-quantized scoring vs full-precision brute force:
    how much ranking the 8x compression costs (typically near-lossless at
    64 dims). Same composition shape as ann_recall_at_k."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The <=N_QUERIES probe frame feeds BOTH the exact and the approx leg;
    # materialize it once (lazy localCheckpoint) so each recall audit pays
    # one probe-side parquet scan instead of one per reference (r12: scan
    # count drops in every recall plan; rows identical by construction).
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).localCheckpoint(
        eager=False
    )
    exact = cosine_topk(emb, queries_df, k=TOP_K)
    approx = cosine_topk_int8(emb, queries_df, k=TOP_K)
    return _recall_vs_exact(exact, approx)


# ---------------------------------------------------------------------------
# persisted IVF index: write-once cell-partitioned parquet, pruned probes
# ---------------------------------------------------------------------------


def _persisted_ivf_oracle_sql() -> str:
    """The persisted probe is semantically IDENTICAL to cosine_topk_ivf —
    the index on disk changes WHERE candidates are read from (partition-
    pruned cell directories), not WHAT they are — so its oracle is the
    IVF-flat oracle verbatim."""
    from radar_output_restructure_spark.queries import ORACLES

    return ORACLES["ann_ivf_topk"]


def _ivf_index_path(sf_dir: str, kind: str = "", params: str = "") -> str:
    """Cache path of a persisted IVF index over `sf_dir`'s embeddings.

    The key holds the fingerprint of the source data (file names, sizes
    and mtimes: regenerating the parquet at the same path changes it), the
    index parameters, and a digest of the home-cell assignment code
    (`ann_index.write_ivf_index`, which `append_ivf_index` calls, and
    `similarity._codebook` / `_codebook_argtop`, read at call time): an
    index whose cells were assigned under other data, another centroid set
    or older assignment code is never probed."""
    import hashlib
    import inspect

    from radar_output_restructure_spark.operators import ann_index, similarity

    code = (ann_index.write_ivf_index, similarity._codebook, similarity._codebook_argtop)
    digest = hashlib.md5("".join(map(inspect.getsource, code)).encode()).hexdigest()
    tag = dataset_fingerprint(sf_dir, ("embeddings",))
    return (
        f"/tmp/spark_graft_ivf_index_{kind}{tag}_k{N_CENTROIDS}{params}"
        f"_a{digest[:8]}"
    )


@register("ann_ivf_persisted_topk", _persisted_ivf_oracle_sql())
def q_ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-side IVF path: the corpus is materialized ONCE as a
    cell-partitioned parquet index (operators/ann_index.write_ivf_index;
    fused assign+write, idempotent per sf_dir), and the query probes read
    ONLY their nprobe cell directories via Catalyst partition pruning —
    at 100 TB a probe scans the probed fraction, not the corpus. Results
    are bit-identical to the in-session `ann_ivf_topk`, so the oracle is
    shared."""
    import os

    from radar_output_restructure_spark.operators.ann_index import (
        probe_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS)
    path = _ivf_index_path(sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):  # write-once per sf_dir, like any index
        write_ivf_index(emb, centroids, path)
    return probe_ivf_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < N_QUERIES),
        centroids,
        k=TOP_K,
        nprobe=NPROBE,
    )


INCR_SPLIT = 300  # base index = vec_id < 300; delta batch = the rest


@register("ann_ivf_incremental_topk", _persisted_ivf_oracle_sql())
def q_ann_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest serving path: the index is built from the first
    corpus slice, then the remaining vectors are APPENDED as a delta batch
    against the frozen centroids (operators/ann_index.append_ivf_index —
    dynamic partition append into only the delta's home cells). Probe
    results are bit-identical to the full-rebuild index and the in-session
    ann_ivf_topk, so all three share one oracle — the proof that daily
    ingestion never needs a rebuild until centroids are deliberately
    re-trained."""
    import os

    from radar_output_restructure_spark.operators.ann_index import (
        append_ivf_index,
        probe_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS)
    # INCR_SPLIT is in the key: it changes which vectors live in base vs delta
    path = _ivf_index_path(sf_dir, "incr_", f"_s{INCR_SPLIT}")
    marker = os.path.join(path, "_DELTA_APPENDED")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)  # never probe a half-built index
        write_ivf_index(emb.filter(F.col("vec_id") < INCR_SPLIT), centroids, path)
        append_ivf_index(
            emb.filter(F.col("vec_id") >= INCR_SPLIT), centroids, path
        )
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return probe_ivf_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < N_QUERIES),
        centroids,
        k=TOP_K,
        nprobe=NPROBE,
    )


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------


@register(
    "hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
                 embedding AS cv
          FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id, neighbor_label,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM c, q
      -- IS DISTINCT FROM pins NULL-label semantics to the Spark side's
      -- numpy comparison (None != None is False, None != 'x' is True):
      -- a NULL-labeled corpus row is a valid negative for every labeled
      -- anchor, and two NULL labels count as the SAME class. Plain != has
      -- three-valued NULL semantics and would drop all such rows.
      WHERE neighbor_id != query_id
        AND neighbor_label IS DISTINCT FROM qlabel
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor vector,
    the top-k most-similar corpus vectors of a DIFFERENT label — the
    negatives the model currently confuses, which is what makes a triplet
    batch informative. Same map-only batch-pruned scan as
    `cosine_topk_bruteforce` (the label test is one extra vectorized mask
    per Arrow batch; kilobytes shuffle regardless of corpus size)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOP_K,
        exclude_label_col="label",
    )


@register(
    "label_centroid_similarity",
    f"""
    WITH q AS (
      SELECT label, r.i AS pos,
             CAST(round(CAST(embedding[r.i] AS DOUBLE) * 1000) AS BIGINT)
               AS qv
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, {DIMS + 1})) AS i) r
    ),
    s AS (SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s
          FROM q GROUP BY 1, 2),
    v AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS sv
          FROM s GROUP BY 1),
    n AS (SELECT label, list_sum([x * x for x in sv]) AS n2 FROM v)
    SELECT a.label AS label_a, b.label AS label_b,
           -- zero-norm guard mirrors the Spark operator: an all-zero sum
           -- vector pins cos at 0.0 instead of NaN
           round(list_sum([a.sv[i] * b.sv[i]
                           for i in range(1, {DIMS + 1})])
                 / ((CASE WHEN na.n2 = 0 THEN 1.0 ELSE sqrt(na.n2) END)
                    * (CASE WHEN nb.n2 = 0 THEN 1.0 ELSE sqrt(nb.n2) END)),
                 6) AS cos
    FROM v a
    JOIN v b ON a.label < b.label
    JOIN n na ON na.label = a.label
    JOIN n nb ON nb.label = b.label
    """,
)
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation audit: cosine between per-label summed embedding
    directions (sum == centroid direction; cosine is scale-invariant).
    Milli-quantized exact-integer sums — one corpus posexplode into a
    |labels| x dims map-side-combined groupBy; every later stage runs on
    kilobytes (operators/similarity.label_centroid_similarity)."""
    from radar_output_restructure_spark.operators.similarity import (
        label_centroid_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_similarity(emb)


# ---------------------------------------------------------------------------
# centroid outlier screen + semantic eval-set decontamination (round 7)
# ---------------------------------------------------------------------------

OUTLIER_SCALE = 1000
OUTLIER_TAU = 0.0
_Q1000 = (
    f"[CAST(round(CAST(embedding[i] AS DOUBLE) * {OUTLIER_SCALE}, 0) AS BIGINT)"
    f" for i in range(1, {DIMS + 1})]"
)


@register(
    "embedding_outlier_scores",
    f"""
    WITH q AS (SELECT vec_id, {_Q1000} AS qv FROM embeddings),
    dims AS (
      SELECT i, CAST(sum(qv[i]) AS BIGINT) AS s
      FROM q, (SELECT unnest(range(1, {DIMS + 1})) AS i)
      GROUP BY i
    ),
    sv AS (SELECT list(s ORDER BY i) AS sv FROM dims),
    scored AS (
      SELECT q.vec_id,
             list_sum([CAST(qv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)
                       for i in range(1, {DIMS + 1})]) AS dot,
             CAST(list_sum([qv[i] * qv[i] for i in range(1, {DIMS + 1})])
                  AS BIGINT) AS nq2,
             list_sum([CAST(sv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)
                       for i in range(1, {DIMS + 1})]) AS ns2
      FROM q CROSS JOIN sv
    ),
    cosed AS (
      SELECT vec_id,
             CASE WHEN nq2 = 0 OR ns2 = 0.0 THEN 0.0
                  ELSE round(dot / (sqrt(CAST(nq2 AS DOUBLE))
                                    * sqrt(ns2)), 6)
             END AS centroid_cos
      FROM scored
    )
    SELECT vec_id, centroid_cos,
           CAST(centroid_cos < {OUTLIER_TAU} AS INT) AS is_outlier
    FROM cosed
    """,
)
def q_embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: cosine of every vector to the global
    corpus centroid (operators/similarity.centroid_outlier_scores). Exact
    integer quantization makes the centroid associativity-proof; the plan
    is one posexplode groupBy(pos) reduced to a 1-row broadcast scalar and
    a map-only fold — no data-sized shuffle at any corpus size."""
    from radar_output_restructure_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outlier_scores(
        emb, tau=OUTLIER_TAU, scale=OUTLIER_SCALE
    )


N_EVAL = 50  # eval-benchmark slice: vec_id < 50, bounded by contract
DECON_TAU = 0.4


@register(
    "semantic_decontaminate_embeddings",
    f"""
    WITH e AS (SELECT vec_id AS eid, embedding AS qv
               FROM embeddings WHERE vec_id < {N_EVAL}),
    c AS (SELECT vec_id, embedding AS cv
          FROM embeddings WHERE vec_id >= {N_EVAL}),
    sims AS (
      -- zero-norm guard lives INSIDE _SQL_QNORM/_SQL_CNORM (ssq=0 -> 1.0),
      -- so a zero vector's sim is 0/1 = 0.0 with no outer CASE needed; an
      -- outer test on the guarded norms could never fire (they are >= 1e-x)
      SELECT c.vec_id, e.eid,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM c CROSS JOIN e
    ),
    best AS (SELECT vec_id, max(sim) AS max_eval_sim FROM sims GROUP BY 1),
    pick AS (
      SELECT s.vec_id, min(s.eid) AS nearest_eval
      FROM sims s
      JOIN best b ON b.vec_id = s.vec_id AND s.sim = b.max_eval_sim
      GROUP BY 1
    )
    SELECT b.vec_id, b.max_eval_sim,
           CAST(p.nearest_eval AS BIGINT) AS nearest_eval,
           CAST(b.max_eval_sim >= {DECON_TAU} AS INT) AS contaminated
    FROM best b JOIN pick p USING (vec_id)
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination of training vectors against an eval slice:
    max cosine of each train vector to ANY eval vector, paraphrase-level
    leakage the Bloom n-gram filter can't see
    (operators/similarity.decontaminate_vs_eval — eval slice is an Arrow
    closure, corpus pass is map-only: one scan, zero shuffles at 100 TB).
    The oracle's CROSS JOIN is affordable at gate scale only; the Spark
    side never materializes the product outside each Arrow batch."""
    from radar_output_restructure_spark.operators.similarity import (
        decontaminate_vs_eval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return decontaminate_vs_eval(
        emb.filter(F.col("vec_id") >= N_EVAL),
        emb.filter(F.col("vec_id") < N_EVAL),
        tau=DECON_TAU,
    )


# ---------------------------------------------------------------------------
# incremental snapshot NEAR-dup delta (round 7)
# ---------------------------------------------------------------------------

from radar_output_restructure_spark.queries_docs import (  # noqa: E402
    SNAPSHOT_BATCH_MIN,
    SNAPSHOT_HIST_MAX,
)

# banding/fp SQL shared with simhash_near_dup_docs: _SQL_BAND_WIDE and
# _sql_wide_fp_ctes are defined once next to that oracle (see above)


@register(
    "snapshot_neardup_delta_docs",
    f"""
    WITH {_sql_wide_fp_ctes("coalesce(text, '')")},
    b AS (
      {_SQL_BAND_WIDE}
    ),
    bn AS (SELECT * FROM b WHERE doc >= {SNAPSHOT_BATCH_MIN}),
    bo AS (SELECT * FROM b WHERE doc < {SNAPSHOT_HIST_MAX}),
    cand AS (
      SELECT DISTINCT n.doc AS doc_new, o.doc AS doc_old
      FROM bn n JOIN bo o USING (band, bv)
    ),
    ham AS (
      SELECT c.doc_new, c.doc_old,
             CAST(bit_count(xor(fn.fp_lo, fo.fp_lo))
                  + bit_count(xor(fn.fp_hi, fo.fp_hi)) AS INTEGER) AS h
      FROM cand c
      JOIN fp fn ON fn.doc = c.doc_new
      JOIN fp fo ON fo.doc = c.doc_old
      WHERE bit_count(xor(fn.fp_lo, fo.fp_lo))
            + bit_count(xor(fn.fp_hi, fo.fp_hi)) <= {SIMHASH_MAX_HAMMING}
    ),
    hits AS (
      SELECT doc_new, count(*) AS n_near_dup, min(h) AS min_h
      FROM ham GROUP BY 1
    )
    SELECT f.doc AS doc_id,
           CAST(coalesce(h.n_near_dup, 0) AS BIGINT) AS n_near_dup,
           CAST(coalesce(h.min_h, -1) AS INTEGER) AS min_hamming,
           CAST(h.doc_new IS NULL AS INT) AS kept
    FROM fp f LEFT JOIN hits h ON h.doc_new = f.doc
    WHERE f.doc >= {SNAPSHOT_BATCH_MIN}
    """,
)
def q_snapshot_neardup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-refresh NEAR-dup: the incoming batch (doc_id >=
    {batch}) probes the corpus history (doc_id < {hist}) through wide-
    simhash band buckets — the fuzzy upgrade of `snapshot_delta_dedup_docs`
    (digest equality), catching re-crawls whose boilerplate shifted a few
    tokens. ASYMMETRIC join: no history x history, no batch x batch
    (operators/dedup_scale.snapshot_neardup_delta)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash_wide,
        snapshot_neardup_delta_from_fp,
    )

    # Batch (doc_id >= BATCH_MIN) and history (doc_id < HIST_MAX) slice the
    # SAME corpus and overlap, so the corpus is simhash-fingerprinted ONCE
    # and both sides filter the shared materialized frame — one tokenize+
    # hash+64-vote aggregation pass instead of two (guide §2.4: remove
    # redundant passes). Fingerprints are per-doc pure, so results are
    # identical; the NULL-text coalesce mirrors snapshot_neardup_delta's.
    docs = load_table(spark, sf_dir, "documents", spread=True)
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    fp_all = simhash_wide(
        docs.filter(
            (F.col("doc_id") >= SNAPSHOT_BATCH_MIN)
            | (F.col("doc_id") < SNAPSHOT_HIST_MAX)
        )
    ).localCheckpoint(eager=False)
    return snapshot_neardup_delta_from_fp(
        fp_all.filter(F.col("doc") >= SNAPSHOT_BATCH_MIN),
        fp_all.filter(F.col("doc") < SNAPSHOT_HIST_MAX),
        max_hamming=SIMHASH_MAX_HAMMING,
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (round 7)
# ---------------------------------------------------------------------------

from radar_output_restructure_spark.operators.similarity import (  # noqa: E402
    RP_OUT_DIMS,
    RP_SCALE,
    rp_sign_matrix,
)

_RP_SIGNS = rp_sign_matrix(RP_OUT_DIMS, DIMS)
_RP_SQL_SIGNS = ", ".join(
    "[" + ", ".join(str(s) for s in row) + "]" for row in _RP_SIGNS
)


@register(
    "embedding_random_projection",
    f"""
    WITH s AS (SELECT [{_RP_SQL_SIGNS}] AS sm),
    q AS (
      SELECT vec_id,
             [CAST(round(CAST(embedding[i] AS DOUBLE) * {RP_SCALE}, 0)
                   AS BIGINT) for i in range(1, {DIMS + 1})] AS qv
      FROM embeddings
    )
    SELECT q.vec_id,
           CAST(j - 1 AS INT) AS dim,
           CAST(list_sum([qv[i] * sm[j][i]
                          for i in range(1, {DIMS + 1})]) AS BIGINT) AS proj
    FROM q, (SELECT unnest(range(1, {RP_OUT_DIMS + 1})) AS j), s
    """,
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64 -> 16 dims, exact integer arithmetic,
    map-only — the pre-ANN dimensionality reduction
    (operators/similarity.random_projection; the deterministic sign matrix
    enters BOTH engines as literals)."""
    from radar_output_restructure_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb)


# ---------------------------------------------------------------------------
# round-8 additions: sketch calibration, Gram matrix, multi-probe LSH
# ---------------------------------------------------------------------------

_SQL_BANDS_CAND = f"""
    , bands AS (
      SELECT doc, seed // {ROWS_PER_BAND} AS band,
             md5(array_to_string(list_sort(
               list(CAST(seed AS VARCHAR) || ':' || CAST(minhash AS VARCHAR))), ','))
               AS band_hash
      FROM hs GROUP BY doc, seed // {ROWS_PER_BAND}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands a JOIN bands b USING (band, band_hash)
      WHERE a.doc < b.doc
    )
"""


@register(
    "minhash_estimate_error_docs",
    _SQL_MINHASH
    + _SQL_BANDS_CAND
    + f"""
    , est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matching
      FROM cand c
      JOIN hs a ON a.doc = c.doc_a
      JOIN hs b ON b.doc = c.doc_b AND b.seed = a.seed
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle) WHERE a.doc < b.doc GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.doc_a, c.doc_b,
             round(coalesce(i.n_common, 0) * 1.0
                   / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc = c.doc_a
      JOIN sizes sb ON sb.doc = c.doc_b
    )
    SELECT doc_a, doc_b, n_matching, est_micro, exact_micro,
           CAST(abs(est_micro - exact_micro) AS BIGINT) AS abs_err_micro
    FROM (
      SELECT e.doc_a, e.doc_b, e.n_matching,
             CAST(round(e.n_matching * 1000000.0 / {NUM_HASHES}, 0)
                  AS BIGINT) AS est_micro,
             CAST(round(x.jaccard * 1000000, 0) AS BIGINT) AS exact_micro
      FROM est e
      JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    )
    """,
)
def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-estimated vs exact Jaccard on every LSH candidate pair —
    the sketch-calibration audit (E[|err|] ~ 1/sqrt(num_hashes)); pure
    band-hash collisions exact-score 0 so false positives are visible
    (operators/dedup_scale.minhash_estimate_error)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        minhash_estimate_error,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return minhash_estimate_error(
        docs, num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND
    )


@register(
    "embedding_gram_matrix",
    f"""
    WITH q AS (SELECT {_Q1000} AS qv FROM embeddings)
    SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS s
    FROM q,
         (SELECT unnest(range(1, {DIMS + 1})) AS i),
         (SELECT unnest(range(1, {DIMS + 1})) AS j)
    WHERE i <= j
    GROUP BY i, j
    """,
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle corpus Gram matrix over milli-quantized embeddings
    (PCA/whitening input): per-batch exact int64 numpy matmul partials,
    groupBy(i, j) reduce — kilobyte shuffles at any corpus size
    (operators/similarity.gram_matrix)."""
    from radar_output_restructure_spark.operators.similarity import (
        gram_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, dims=DIMS, scale=OUTLIER_SCALE)


MP_TABLES = 3  # multi-probe: 3 tables x (planes+1) probes ~ 10-table recall
_SQL_MP_BUCKETS = sql_buckets_union(NUM_PLANES, MP_TABLES)


@register(
    "ann_multiprobe_lsh_topk",
    f"""
    WITH b AS (
{_SQL_MP_BUCKETS}
    ),
    probes AS (
      SELECT vec_id, tbl,
             CASE WHEN p.i = 0 THEN bucket
                  ELSE xor(bucket, (1 << (p.i - 1))) END AS bucket
      FROM b, (SELECT unnest(range({NUM_PLANES + 1})) AS i) p
      WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM b c JOIN probes q USING (tbl, bucket)
      WHERE c.vec_id != q.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = neighbor_id
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
)
def q_ann_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: 3 tables, each query also probes the
    Hamming-1 buckets (one plane bit flipped) — ~the recall of the
    10-table single-probe index at 30% of the index footprint; probe
    expansion is query-side only, the corpus path stays map-only
    (operators/similarity.cosine_topk_lsh_multiprobe)."""
    from radar_output_restructure_spark.operators.similarity import (
        cosine_topk_lsh_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh_multiprobe(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOP_K,
        num_planes=NUM_PLANES,
        num_tables=MP_TABLES,
    )
