"""Corpus-curation operators: deterministic sampling and near-dup removal.

The selection half of a training-data pipeline — once dedup/quality/language
signals exist, these operators turn them into a reproducible kept-corpus:

* `stratified_sample` — per-stratum rates via a 53-bit content-independent
  hash of the id (md5-Horner, the repo's shared engine-exact hash), so the
  sample is deterministic, stable under corpus growth (a doc's keep/drop
  never changes when other docs arrive), and needs NO shuffle — it is a
  map-only filter. That is the property random() sampling lacks.
* `near_dup_survivors` — drop every document of a duplicate cluster except
  the canonical (minimum-id) member. The removal list is cluster-sized
  (small by construction), so it broadcasts into an anti-join against the
  corpus: one map-side filter, no shuffle of the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.text import (
    FP_PRIME,
    horner_fold_sql,
    md5_horner_sql,
    quality_score,
    split_words,
    token_count,
    word_grams,
)


def stratified_sample(
    df: DataFrame,
    rates_per_mille: dict[str, int],
    bucket_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: int = 0,
) -> DataFrame:
    """Keep each row iff hash(id) % 1000 < rate for its bucket.

    `rates_per_mille`: bucket value -> keep-rate out of 1000. Buckets not
    listed fall back to `default_rate`. Map-only: one hash + one CASE per
    row, no shuffle, no RNG state.
    """
    bucket_hash = F.expr(md5_horner_sql(f"CAST(`{id_col}` AS STRING)")) % 1000
    rate = F.lit(default_rate)
    for bucket, r in sorted(rates_per_mille.items()):
        rate = F.when(F.col(bucket_col) == bucket, F.lit(r)).otherwise(rate)
    return df.filter(bucket_hash < rate)


def temperature_mixture_sample(
    df: DataFrame,
    bucket_col: str = "lang",
    id_col: str = "doc_id",
    base_rate_per_mille: int = 500,
) -> DataFrame:
    """Exponent-0.5 mixture rebalancing: keep each row with probability
    r_bucket = min(1, (base/1000) * sqrt(n_head / n_bucket)), where n_head
    is the LARGEST bucket's count — the multilingual temperature-smoothing
    rule (sample share ~ p^(1/T), T=2) anchored so the head bucket keeps
    exactly the base rate and tail buckets are upsampled toward parity.

    The exponent is fixed at 0.5 because IEEE sqrt is correctly rounded on
    every engine while pow(x, 1/T) is not — so the rates, and therefore the
    kept row set, are bit-reproducible cross-engine. The keep predicate is
    the same deterministic 53-bit id-hash as `stratified_sample`, compared
    as hash/FP_PRIME < r (exact dyadic-free single-division comparison).

    Scale: the bucket-count aggregate is vocabulary-of-languages sized; the
    head count is a 1-row scalar frame; the rate join broadcasts by size.
    The corpus itself sees one map-side-combined count shuffle and a
    map-only filter — no row-level shuffle.
    """
    counts = df.groupBy(bucket_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    head = counts.agg(F.max("__n").alias("__n_head"))
    rates = counts.crossJoin(head).select(
        bucket_col,
        F.least(
            F.lit(1.0),
            F.lit(base_rate_per_mille / 1000.0)
            * F.sqrt(
                F.col("__n_head").cast("double") / F.col("__n").cast("double")
            ),
        ).alias("__r"),
    )
    u = F.expr(md5_horner_sql(f"CAST(`{id_col}` AS STRING)")) * F.lit(
        1.0
    ) / F.lit(float(FP_PRIME))
    # null-safe join: groupBy emits a rate row for a NULL bucket, but a
    # plain equi-join would never match it — every NULL-bucket document
    # would silently vanish from the mixture instead of being sampled at
    # its own bucket's rate
    return (
        df.join(
            rates.withColumnRenamed(bucket_col, "__bucket"),
            F.col(bucket_col).eqNullSafe(F.col("__bucket")),
        )
        .filter(u < F.col("__r"))
        .drop("__bucket", "__r")
    )


def contamination_scores(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    distinct word k-grams that also occur anywhere in the eval set.

    (id, n_grams, n_contaminated, contamination) for EVERY corpus document
    (gram-less docs score 0.0). Filter on `contamination` to drop train
    documents that leak evaluation data — the standard n-gram-overlap
    decontamination pass every LLM data pipeline runs before training.

    Scale design: the eval set is benchmark-sized (thousands of documents),
    so its distinct-gram table broadcasts; corpus grams mark hits with a
    broadcast LEFT join (map-side) and ONE map-side-combined groupBy(doc)
    produces the counts — a single one-row-per-document shuffle, the same
    budget as minhash_wide. No corpus-vs-corpus join exists anywhere.
    """
    from radar_output_restructure_spark.operators.dedup_scale import (
        _exploded_shingles,
    )

    eval_grams = (
        _exploded_shingles(eval_df, text_col, id_col, k)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ex = _exploded_shingles(corpus, text_col, id_col, k)
    scored = (
        ex.join(F.broadcast(eval_grams), "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
    )
    ids = corpus.select(F.col(id_col))
    out = ids.join(scored, ids[id_col] == scored["doc"], "left")
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.round(
                F.col("n_contaminated") * F.lit(1.0) / F.col("n_grams"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


def repetition_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
) -> DataFrame:
    """Gopher-style repetition signal: the share of a document's word
    k-grams taken by its single most frequent k-gram (duplicates counted).

    (id, n_grams, top_gram_count, repetition); repetitive boilerplate
    (loops, lists, templated spam) scores high and is filtered on
    `repetition`. MAP-ONLY: the gram array sorts per row and a higher-order
    fold finds the longest equal-run — no explode, no shuffle, nothing
    leaves the row. The exploded groupBy formulation this replaces is kept
    in the oracle as the cross-engine reference semantics.
    """
    # longest equal-run of the sorted gram array == max multiplicity
    run = F.aggregate(
        F.array_sort(F.col("__grams")),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("cur"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    staged = df.select(
        F.col(id_col), split_words(text_col).alias("__words")
    ).select(F.col(id_col), word_grams(F.col("__words"), k).alias("__grams"))
    # bind the run fold once: the final projection references it twice
    # (count + ratio) and the when-guard a third time — inlining tripled
    # the biggest lambda tree in the plan for the analyzer to walk.
    # CollapseProject keeps the binding (referenced >1x, non-trivial), so
    # the fold also evaluates once per row.
    staged = staged.select(
        F.col(id_col),
        F.size("__grams").cast("bigint").alias("__n"),
        run.alias("__run"),
    )
    return staged.select(
        F.col(id_col),
        F.col("__n").alias("n_grams"),
        F.col("__run").cast("bigint").alias("top_gram_count"),
        F.when(
            F.col("__n") > 0,
            F.round(F.col("__run") * F.lit(1.0) / F.col("__n"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition"),
    )


def sliding_chunks(
    df: DataFrame,
    window_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking: (id, chunk_idx, n_tokens,
    chunk_text) — fixed token windows advancing by `stride` (overlap =
    window - stride), the standard shape for embedding/retrieval corpora
    and long-document training samples. The final window is allowed short;
    every token lands in at least one chunk when stride <= window.

    MAP-ONLY: one split per document, chunk slices assembled with
    higher-order functions and inline-exploded — no shuffle, no UDF; the
    output row count is sum(ceil(max(n-W,0)/S)) + docs, known up front.
    """
    if stride <= 0 or window_tokens <= 0:
        raise ValueError("window_tokens and stride must be positive")
    # coalesce: NULL text chunks exactly like empty text (one empty
    # chunk), instead of NULL-propagating into a NULL chunk_text
    staged = df.select(
        F.col(id_col),
        split_words(F.coalesce(F.col(text_col), F.lit(""))).alias("__w"),
    )
    n = F.size("__w")
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - window_tokens, F.lit(0)) + (stride - 1))
        / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("bigint").alias("chunk_idx"),
            F.least(F.lit(window_tokens), n - c * stride)
            .cast("bigint")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__w"), c * stride + 1, window_tokens)
            ).alias("chunk_text"),
        ),
    )
    return staged.select(F.col(id_col), F.inline(chunks))


def near_dup_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus minus non-canonical cluster members.

    `clusters`: (doc, cluster) labels from duplicate_clusters — only
    documents that appear in some near-dup pair, labeled with the cluster's
    min doc id. Everything except the canonical member is removed; documents
    in no cluster survive untouched.
    """
    removals = clusters.filter(F.col("doc") != F.col("cluster")).select("doc")
    return df.join(
        F.broadcast(removals),
        df[id_col] == removals["doc"],
        "left_anti",
    )


def source_quality_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, n_distinct_texts, n_dup_docs, tokens_total,
    quality_sum_micro, mean_quality_micro): per-source corpus health — the
    domain-level rollup a curation pipeline uses to set per-source sampling
    weights and to spot mirror-heavy or boilerplate-heavy feeds.

    One pass over the corpus: the per-doc quality score and token count are
    map-only Column expressions (operators/text), the per-doc score rounds
    to integer MICRO units before summing so the aggregate is
    order-independent and engine-exact (float accumulation is not), and the
    whole thing reduces in a single groupBy(source) with map-side combine.
    Exact-duplicate pressure per source comes from count - countDistinct of
    the normalized-content fingerprint digest computed in the same
    projection — no second scan, no join. At 100 TB this shuffles one row
    per (partition, source): the output is sources-sized.

    mean_quality_micro is a SINGLE division of two exact integers, rounded
    once — identical in any engine.
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    per_doc = df.select(
        F.col(source_col).alias("source"),
        token_count(text_col).cast("long").alias("n_tok"),
        F.round(quality_score(text_col) * 1_000_000)
        .cast("long")
        .alias("q_micro"),
        F.md5(norm).alias("digest"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.col("digest")).cast("long").alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("digest")))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.sum("q_micro").cast("long").alias("quality_sum_micro"),
        F.round(F.sum("q_micro") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_quality_micro"),
    )


def per_source_cap(
    df: DataFrame,
    cap: int = 20,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, source, source_rank): at most `cap` documents per source,
    keeping the highest-quality ones — the per-domain cap every web-crawl
    pipeline applies so that mirror farms and SEO hosts cannot dominate the
    training mixture no matter how many pages they serve.

    Ranking is (quality DESC, doc_id ASC) with the quality score rounded to
    integer MICRO units first, so the kept set is engine-exact (the same
    q_micro discipline as `source_quality_stats`).

    Scale shape: per-group top-k via LOCAL pruning — each Arrow batch keeps
    only its own top-`cap` rows per source (safe because the ordering is a
    strict total order, so the global top-cap is contained in the union of
    batch top-caps — the `cosine_topk` prune argument applied to groups).
    The window then ranks at most tasks x sources x cap rows; the full
    corpus never shuffles. The first cut windowed the raw corpus and went
    x6.5 at 10x tiling (every row shuffled + per-group full sort); this
    shape's shuffle is cap-bounded no matter how mirror-heavy a domain is.
    """
    import pandas as pd

    from pyspark.sql import Window as W

    scored = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.round(quality_score(text_col) * 1_000_000)
        .cast("long")
        .alias("q_micro"),
    )
    id_type = scored.schema["doc_id"].dataType.simpleString()
    src_type = scored.schema["source"].dataType.simpleString()

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(
                ["source", "q_micro", "doc_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            # dropna=False: pandas' default silently drops the NULL-source
            # group, whereas the window below (and the SQL oracle) rank
            # NULL as its own partition — the prune must only REDUCE rows,
            # never change which groups exist
            yield pdf.groupby("source", sort=False, dropna=False).head(cap)

    pruned = scored.mapInPandas(
        local_topk,
        f"doc_id {id_type}, source {src_type}, q_micro long",
    )
    w = W.partitionBy("source").orderBy(
        F.col("q_micro").desc(), F.col("doc_id").asc()
    )
    return (
        pruned.withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= cap)
        .select("doc_id", "source", "source_rank")
    )


SEG_K = 8  # words per dedup segment (the synthetic stand-in for a "line")
SEG_MIN_DF = 2  # corpus-wide df at which a segment counts as boilerplate


def segment_dedup(
    df: DataFrame,
    k: int = SEG_K,
    min_df: int = SEG_MIN_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_segments, n_kept, clean_fp): C4-style corpus-wide repeated-
    segment removal. Every document is cut into consecutive `k`-word
    segments (the whitespace-free analogue of C4's "lines"); any segment
    whose corpus-wide OCCURRENCE count reaches `min_df` is boilerplate and
    is dropped from EVERY document (a segment repeated min_df times inside
    one document counts — intentionally: intra-document boilerplate is
    boilerplate too, and the DuckDB oracle implements the identical
    occurrence-count semantics); the survivors re-join in original order
    and `clean_fp` is the 53-bit md5-Horner fingerprint of that cleaned
    text (NULL when nothing survives).

    Scale shape, in three scan-bounded stages:

    * segmenting is MAP-ONLY — one split + HOF slices per document, the
      segment array inline-explodes to (doc, seg_idx, seg) with one md5 per
      segment materialized immediately (never re-hashed downstream);
    * the duplicate-segment set is one groupBy(seg md5) with map-side
      combine, filtered to df >= min_df BEFORE it meets the corpus again —
      the dup set is proportional to the *duplicated* fraction, not the
      corpus, so the anti-join below is AQE-broadcastable in the normal
      case and degrades to a hash join when a boilerplate-heavy crawl
      outgrows the threshold (nothing is pinned);
    * reassembly is one groupBy(doc) collecting (seg_idx, seg) pairs — the
      only corpus-sized shuffle, keyed by doc id (near-uniform by
      construction).

    Unlike suffix-array exact-substring dedup this needs no global sort and
    no position arithmetic across documents — the trade C4 itself makes.
    """
    staged = df.select(
        F.col(id_col).alias("doc_id"), split_words(text_col).alias("__w")
    )
    n = F.size("__w")
    nseg = (F.lit(1) + ((F.greatest(n, F.lit(1)) - 1) / F.lit(k)).cast("int")).cast(
        "int"
    )
    seg = lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i * k + 1, k))  # noqa: E731
    segs = F.transform(F.sequence(F.lit(0), nseg - 1), seg)
    base = staged.select("doc_id", nseg.cast("bigint").alias("n_segments"), segs.alias("__segs"))
    # one materialization of the segment frame: it feeds BOTH the
    # duplicate-segment aggregate and the kept-side anti-join, and without
    # the barrier each branch re-ran the split + per-segment slice lambda +
    # explode + md5 over the whole corpus (the plan showed three parquet
    # scans, one of which evaluated the transform lambda twice more inside
    # a pushed filter). Same pattern as _inverted_index_pairs.
    exploded = base.select(
        "doc_id", F.posexplode("__segs").alias("seg_idx", "seg")
    ).withColumn("__h", F.md5("seg")).localCheckpoint(eager=False)
    dup = (
        exploded.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("__h")
    )
    kept = exploded.join(dup, "__h", "left_anti")
    clean = (
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        )
    )
    # collect/rebuild first, THEN md5+fold in a separate projection over the
    # bound column: folding md5(clean) inline duplicated the whole
    # collect_list/sort/array_join result expression 16x in the analyzed
    # tree (one copy per folded char) — the post-agg projection re-derived
    # it per copy at plan time and relied on codegen CSE at run time.
    # Identical arithmetic (same md5, same fold).
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        clean.alias("__clean"),
    )
    kept_agg = kept_agg.selectExpr(
        "doc_id", "n_kept", "md5(__clean) AS __hx"
    ).selectExpr("doc_id", "n_kept", f"({horner_fold_sql('__hx')}) AS clean_fp")
    return (
        base.select("doc_id", "n_segments")
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            "clean_fp",
        )
    )


def train_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "#split",
) -> DataFrame:
    """Append (bucket, split): the deterministic train/val/test assignment.

    bucket = 53-bit md5-Horner hash of (id || salt) mod 100; split is
    'train' below `train_pct`, 'val' below train+val, else 'test'. The salt
    decorrelates the split from every other id-hash decision in the
    pipeline (sampling, resampling, sharding), and the assignment is
    map-only, content-independent, and stable under corpus growth — adding
    documents never moves an existing one across the split boundary, the
    property a random() split lacks and the one that keeps eval sets
    uncontaminated across corpus refreshes.
    """
    bucket = (
        F.expr(md5_horner_sql(f"CAST(`{id_col}` AS STRING) || '{salt}'")) % 100
    ).cast("int")
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


def quality_resample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "#rs",
) -> DataFrame:
    """Quality-weighted deterministic Bernoulli resampling (the DSIR-style
    importance-sampling shape): each document is kept with probability equal
    to its composite quality score, decided by comparing the 53-bit id-hash
    (salted, so it is independent of the split/sample hashes) against the
    score in integer MICRO units — no RNG state, map-only, reproducible
    row-for-row on any engine.

    High-quality documents survive at ~their score, low-quality ones thin
    out proportionally — the soft alternative to a hard quality cutoff,
    preserving distributional coverage of the tail instead of truncating it.
    """
    w_micro = F.round(quality_score(text_col) * 1_000_000).cast("long")
    u = F.expr(md5_horner_sql(f"CAST(`{id_col}` AS STRING) || '{salt}'")) % 1_000_000
    return df.withColumn("weight_micro", w_micro).filter(u < F.col("weight_micro"))


def winsorize_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str = "lang",
    id_col: str = "doc_id",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """(id, group, value, clamped): per-group winsorization — clamp a
    numeric feature to its group's [lo_q, hi_q] exact percentiles, the
    outlier-trimming step before any length/quality statistic feeds a
    mixture weight (one pathological 500 MB document otherwise owns its
    language's mean).

    Two stages, both group-bounded: one map-side-combined groupBy(group)
    computing the exact percentile pair (Spark `percentile` ==
    DuckDB `quantile_cont`, same linear-interpolation definition — values
    hash-match with no integer tricks), then a BROADCAST join back (the
    bounds frame has one row per group, and the group key is a bounded
    vocabulary — language codes — so pinning the broadcast is safe where
    pinning a data-dependent vocab was not; see the unigram-LM history).
    Clamping itself is map-only Column algebra. For unbounded group keys
    swap `percentile` for `approx_percentile` and drop the pin —
    documented trade, not needed for per-language trimming.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo_q})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi_q})").alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(bounds), group_col)
        .select(
            id_col,
            group_col,
            F.col(value_col).cast("bigint").alias(value_col),
            F.round(
                F.least(F.greatest(v, F.col("__lo")), F.col("__hi")), 6
            ).alias("clamped"),
        )
    )


# --- round-8 additions -------------------------------------------------------


def content_train_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    val_lo: str = "f6",
    test_lo: str = "fb",
) -> DataFrame:
    """(doc, bucket, split): deterministic CONTENT-hash train/val/test
    assignment — the first two hex chars of md5(text) partition [00, ff]
    into train [00, val_lo), val [val_lo, test_lo), test [test_lo, ff].
    Defaults give ~96.1 / 2.0 / 2.0%.

    The complement of `train_split` above (which hashes the ID): hashing
    the TEXT puts exact duplicates in the same split — no train/test
    leakage through copies, the failure mode an id-hash split cannot see —
    at the price of moving a document between splits when its content is
    edited. Both are map-only, rand()-free, stable under corpus growth.
    Hex-string comparison is binary-collation equal across engines.
    """
    # coalesce: md5(NULL) is NULL, which fails BOTH range predicates and
    # falls through to 'test' with a NULL bucket — every null-content doc
    # would silently skew the ~2% test split. NULL hashes like the empty
    # string instead (all such docs are content-identical, so same-split
    # is exactly the no-leakage property this split exists for).
    bucket = F.substring(F.md5(F.coalesce(F.col(text_col), F.lit(""))), 1, 2)
    split = (
        F.when(bucket < F.lit(val_lo), F.lit("train"))
        .when(bucket < F.lit(test_lo), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(
        F.col(id_col).alias("doc"),
        bucket.alias("bucket"),
        split.alias("split"),
    )


def source_balance_weights(
    df: DataFrame, source_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """(source, n_docs, weight_micro): per-source upsampling factor that
    equalizes the mixture — weight = (corpus / n_sources) / n_docs, the
    repeat factor a data-mixing stage applies so every source contributes
    a uniform share of training tokens (docs stand in for tokens here;
    swap the count for a token sum in production).

    Plan: one map-side-combined groupBy(source) plus a broadcast of the
    1-row corpus total — no data-sized shuffle. Integer-micro exact.
    """
    per = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("__total"),
        F.count(F.lit(1)).cast("bigint").alias("__n_sources"),
    )
    w = F.round(
        F.col("__total")
        * 1000000.0
        / (F.col("__n_sources") * F.col("n_docs")),
        0,
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", w.alias("weight_micro"))
    )
