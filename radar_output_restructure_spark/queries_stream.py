"""Sessionization / windowed-aggregation / embedding-near-dup queries.

Streaming operators are validated through their batch-equivalent plans
(streaming/windows.py builds both from the same semantics), so each gets a
full DuckDB oracle like every other registry entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.similarity import (
    auto_num_planes,
    lsh_bucket_vectors,
    near_dup_pairs_from_buckets,
)
from radar_output_restructure_spark.queries import register
from radar_output_restructure_spark.queries_sim import (
    _SQL_CNORM,
    _SQL_DOT,
    _SQL_QNORM,
    NUM_TABLES,
    sql_buckets_union,
)
from radar_output_restructure_spark.queries_docs import SQL_SHINGLES
from radar_output_restructure_spark.sources.tables import (
    load_table,
    table_num_rows,
)
from radar_output_restructure_spark.streaming.windows import (
    hourly_event_counts,
    session_windows,
)

SESSION_GAP_S = 3600


@register(
    "session_windows_events",
    f"""
    WITH g AS (
      -- NULL event times are dropped (mirrors session_windows): the
      -- engines otherwise disagree on where a NULL-ts row sessions
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > {SESSION_GAP_S * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (1 h idle closes a session) — the batch plan of the
    applyInPandasWithState streaming operator (streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return session_windows(ev, gap_s=SESSION_GAP_S)


@register(
    "hourly_event_counts",
    """
    SELECT user_id,
           date_trunc('hour', ts) AS bin_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS bin_end,
           count(*) AS n_events
    -- NULL ts excluded: Spark's window() emits no window for them
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
    """,
)
def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling hourly window (the watermarked streaming agg's
    batch plan, SURVEY ST2)."""
    ev = load_table(spark, sf_dir, "events")
    return hourly_event_counts(ev)


NEAR_DUP_COSINE = 0.4


def _embedding_near_dup(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(embeddings, (vec_a, vec_b, sim) pairs): auto-plane LSH bucket
    candidates -> exact cosine verification >= threshold. The one pair
    builder of the three embedding near-dup queries.

    The plane count comes from the Parquet footer's row count
    (`table_num_rows`), so building the plan runs no count job. The
    embedding analog of MinHash near-dup (candidates per bucket, never
    all-pairs). The table is scanned once: the bucketizer carries each
    vector with its bucket array (operators/similarity.lsh_bucket_vectors)
    and the vectors shuffle once to their buckets. One vectorized Arrow
    pass per shuffle partition then verifies every bucket's pairs with the
    oracle's exact fold order, in blocks of at most `chunk_pairs` pairs
    (many small buckets to a block, a large bucket split at anchor rows),
    and emits each pair only from the first table in which it collides,
    so no distinct shuffle follows (near_dup_pairs_from_buckets).
    The earlier candidate self-join + per-pair HOF cosine materialized
    every candidate through three shuffles and ran ~10x slower at sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = auto_num_planes(table_num_rows(spark, sf_dir, "embeddings"))
    rows = lsh_bucket_vectors(emb, num_planes=planes, num_tables=NUM_TABLES)
    return emb, near_dup_pairs_from_buckets(rows, NEAR_DUP_COSINE)


def _embedding_clusters(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(embeddings, (doc, cluster)): the near-dup pair graph's connected
    components (operators/dedup_scale.duplicate_clusters)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        duplicate_clusters,
    )

    emb, pairs = _embedding_near_dup(spark, sf_dir)
    edges = pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return emb, duplicate_clusters(edges)


#: embeddings rows at the driver's FIXED sf0.01 correctness gate; the static
#: oracle SQL must pre-bake the plane count the Spark side derives at runtime
#: (auto_num_planes(count)), so it is generated for this gate cardinality.
AUTO_GATE_N = 500
AUTO_GATE_PLANES = auto_num_planes(AUTO_GATE_N)


@register(
    "embedding_near_dup_pairs",
    f"""
    WITH b AS (
{sql_buckets_union(AUTO_GATE_PLANES, NUM_TABLES)}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c USING (tbl, bucket)
      WHERE a.vec_id < c.vec_id
    ),
    sims AS (
      SELECT vec_a, vec_b,
             round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6) AS sim
      FROM cand
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = vec_a
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = vec_b
    )
    SELECT vec_a, vec_b, sim FROM sims WHERE sim >= {NEAR_DUP_COSINE}
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: hyperplane-LSH bucket
    candidates over the WHOLE corpus, exact cosine verification.

    This undecorated name IS the scale-safe configuration (r6-verdict
    demotion: the fixed 4-plane geometry that previously held this name is
    quadratic — bucket occupancy grows linearly with the corpus, ~x40 work
    at 10x tiling — and now lives only in scripts/scale_stress.py as
    `embedding_near_dup_fixed4_reference`). The plane count is derived from
    the corpus cardinality: auto_num_planes holds expected bucket occupancy
    constant, keeping the bucket self-join LINEAR in corpus size. This is
    the configuration a 100 TB run should use.

    The Spark side reads n from the Parquet footer; the DuckDB oracle
    pre-bakes auto_num_planes(500) because the driver's gate always runs at
    sf0.01 (500 embeddings) and oracle SQL is registered statically."""
    return _embedding_near_dup(spark, sf_dir)[1]


#: shared pair-graph + transitive-closure oracle fragments: the
#: jaccard-verified pair graph and its min-label reach CTE are consumed by
#: both the clusters and the survivors oracle — one copy, so a threshold
#: or closure fix cannot drift between the sibling queries
SQL_JACCARD_PAIR_GRAPH = f"""sh AS ({SQL_SHINGLES}),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle) WHERE a.doc < b.doc GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
      WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5
    )"""

SQL_REACH_LABELS = """edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.doc
    )"""


@register(
    "dedup_clusters_docs",
    f"""
    WITH RECURSIVE {SQL_JACCARD_PAIR_GRAPH},
    {SQL_REACH_LABELS}
    SELECT doc, min(label) AS cluster FROM reach GROUP BY doc
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: jaccard-verified pairs (J >= 0.5) -> connected
    components via iterative min-label propagation (operators/dedup_scale.
    duplicate_clusters) — the survivor-group canonicalization over the pair
    graph. Oracle = DuckDB recursive CTE transitive closure."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        duplicate_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    return duplicate_clusters(pairs)


@register(
    "dedup_survivors_docs",
    f"""
    WITH RECURSIVE {SQL_JACCARD_PAIR_GRAPH},
    {SQL_REACH_LABELS},
    labels AS (SELECT doc, min(label) AS cluster FROM reach GROUP BY doc),
    removed AS (SELECT doc FROM labels WHERE doc <> cluster)
    SELECT d.doc_id AS doc FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc FROM removed)
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL: the corpus minus every non-canonical member of each
    duplicate cluster (canonical = min doc id). The removal list is
    cluster-sized, so it broadcasts into an anti-join — the corpus itself
    never shuffles (operators/curation.near_dup_survivors)."""
    from radar_output_restructure_spark.operators.curation import (
        near_dup_survivors,
    )
    from radar_output_restructure_spark.operators.dedup_scale import (
        duplicate_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    return near_dup_survivors(docs, duplicate_clusters(pairs)).select(
        F.col("doc_id").alias("doc")
    )


#: the embedding analog of SQL_JACCARD_PAIR_GRAPH: LSH candidate pairs
#: verified by exact cosine — shared by the clusters and survivors oracles
SQL_EMB_PAIR_GRAPH = f"""b AS (
{sql_buckets_union(AUTO_GATE_PLANES, NUM_TABLES)}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c USING (tbl, bucket)
      WHERE a.vec_id < c.vec_id
    ),
    pairs AS (
      SELECT vec_a, vec_b FROM cand
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = vec_a
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON c.vec_id = vec_b
      WHERE round(({_SQL_DOT}) / ({_SQL_QNORM} * {_SQL_CNORM}), 6)
            >= {NEAR_DUP_COSINE}
    )"""

SQL_EMB_REACH = """edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION ALL SELECT vec_b, vec_a FROM pairs
    ),
    reach(doc, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.doc
    )"""


@register(
    "embedding_dup_clusters",
    f"""
    WITH RECURSIVE {SQL_EMB_PAIR_GRAPH},
    {SQL_EMB_REACH}
    SELECT doc, min(label) AS cluster FROM reach GROUP BY doc
    """,
)
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate CLUSTERS: the scale-safe auto-plane LSH
    pairs (cosine >= threshold after exact verification) fed through the
    same connected-components machinery as the document clusters
    (operators/dedup_scale.duplicate_clusters — capped driver union-find
    with the distributed min-label-propagation fallback). Completes the
    embedding dedup path: pairs -> clusters -> pick survivors downstream."""
    return _embedding_clusters(spark, sf_dir)[1]


@register(
    "embedding_dedup_survivors",
    f"""
    WITH RECURSIVE {SQL_EMB_PAIR_GRAPH},
    {SQL_EMB_REACH},
    labels AS (SELECT doc, min(label) AS cluster FROM reach GROUP BY doc),
    removed AS (SELECT doc FROM labels WHERE doc <> cluster)
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT doc FROM removed)
    """,
)
def q_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup, final step: the corpus minus every non-canonical
    member of each cosine near-dup cluster (canonical = min vec id) — the
    pairs -> clusters -> survivors trilogy on the embedding side, sharing
    the document path's machinery end to end. The removal list broadcasts
    into an anti-join; the corpus never shuffles."""
    from radar_output_restructure_spark.operators.curation import (
        near_dup_survivors,
    )

    emb, clusters = _embedding_clusters(spark, sf_dir)
    return near_dup_survivors(
        emb.select("vec_id", "label"), clusters, id_col="vec_id"
    )
