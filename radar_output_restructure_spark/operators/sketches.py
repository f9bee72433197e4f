"""Distributed frequency/cardinality sketches with EXACT cross-engine
determinism — count-min heavy hitters and a HyperLogLog distinct count.

Sketches are the canonical 100 TB answer when the exact aggregate is
either too hot (a vocabulary-sized shuffle for one frequent-terms query)
or only needed approximately (distinct counts for capacity planning). Both
sketches here are MERGEABLE by construction — counters add, registers
max — so Spark's map-side combine does the merging and the shuffle is
bounded by the SKETCH size (d x width counters, m registers per group),
not the data.

Both are also bit-deterministic across engines, which is unusual for
sketch implementations and is what lets the DuckDB oracles replay them
hash-for-hash:

* hashing is the repo-standard 53-bit md5 Horner fold (`operators/text`),
  not engine-local murmur;
* count-min counters are exact integers; the estimate is an integer min;
* the HLL register sum uses the integer form S = sum(2^(46 - M[j])) —
  every term is a bigint (rank <= 46, m=256 terms keep S < 2^55), so the
  sum is exact in ANY accumulation order, and the raw estimate is a
  SINGLE division alpha*m^2*2^46 / S. The small-range (linear-counting)
  correction needs ln(), whose last ulp differs between libms, so the
  operator emits the RAW estimate plus n_zero_registers and leaves the
  correction to the caller — determinism over polish, documented here.

No reference analog (the reference keeps exact per-file accounting); the
shapes are the standard Flajolet-Martin / Cormode-Muthukrishnan designs
re-expressed as DataFrame aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.text import (
    horner_fold_sql,
    split_words,
    token_stream,
    word_grams,
)

CMS_DEPTH = 4
CMS_WIDTH = 1024
HLL_M = 256  # 2^8 registers
_HLL_WBITS = 46  # h < 2^53, w = h div 256 < 2^45 -> bin length <= 45
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(2**_HLL_WBITS)


def _cms_bucket(md: Column, row: int, width: int) -> Column:
    """Row-r count-min bucket: Horner fold of the r-th disjoint 8-hex-char
    span of ONE md5(token) digest, mod width. One md5 per token feeds all
    `depth` rows (disjoint spans of a cryptographic digest are independent
    hash families) — the first cut hashed md5('r:tok') per row and the
    depth x md5 cost was the whole sketch runtime at 10x tiling."""
    if not 0 <= row <= 3:
        raise ValueError(
            f"row {row} out of range: an md5 digest has 32 hex chars = 4 "
            "disjoint 8-char spans, so depth/k cannot exceed 4 (row 4+ "
            "would fold ascii('') = 0 into every position — a degenerate "
            "all-bucket-0 hash on the JVM side and an IndexError in the "
            "numpy replay)"
        )
    h: Column = F.lit(0).cast("bigint")
    for j in range(row * 8 + 1, row * 8 + 9):
        h = (h * 131 + F.ascii(F.substring(md, j, 1))) % 9007199254740881
    return h % width


def _cms_bucket_sql(md_expr: str, row: int, width: int) -> str:
    """DuckDB text of `_cms_bucket` — identical arithmetic, shared
    constants with operators/text.FP_BASE/FP_PRIME."""
    h = "0"
    for j in range(row * 8 + 1, row * 8 + 9):
        h = f"(({h}) * 131 + ascii(substr({md_expr}, {j}, 1))) % 9007199254740881"
    return f"({h}) % {width}"


def cms_counters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, bucket, cnt): the count-min counter table. ONE corpus scan;
    the groupBy(row, bucket) shuffle carries at most depth x width rows
    per map task after map-side combine — sketch-sized, not data-sized."""
    toks = token_stream(df, text_col).select(F.md5(F.col("tok")).alias("md"))
    banded = toks.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col("md"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        )
    )
    return banded.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def cms_heavy_hitters(
    df: DataFrame,
    threshold: int,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(token, exact_n, cms_count): tokens whose count-min estimate clears
    `threshold`, with the exact count alongside (the demo/validation pair —
    CMS guarantees cms_count >= exact_n, equality when the token's buckets
    saw no collisions).

    The counter table is sketch-sized (depth x width longs), so the
    estimate join BROADCASTS it against the vocabulary frame; the min over
    depth rows is an exact integer aggregate. ONE corpus scan total: the
    counters derive from the banded vocabulary frame (sum of exact_n per
    (row, bucket) == the token-occurrence counter), so the corpus is
    tokenized and hashed exactly once; both post-vocab shuffles are
    sketch-/vocab-sized.
    """
    vocab = token_stream(df, text_col).groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    vocab = vocab.localCheckpoint(eager=False)  # feeds counters + the join
    banded = vocab.select(
        "tok",
        "exact_n",
        F.md5(F.col("tok")).alias("md"),
    ).select(
        "tok",
        "exact_n",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col("md"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ),
    )
    banded = banded.localCheckpoint(eager=False)  # counters + join side
    # the counter table derives from the banded vocab frame instead of a
    # second corpus scan (cms_counters re-tokenizes + re-hashes the whole
    # corpus): counters(row, bucket) = sum of exact_n over the vocab
    # tokens hashing there — bit-identical, since exact_n IS the token's
    # occurrence count, at vocab (not corpus) cost
    counters = banded.groupBy("row", "bucket").agg(
        F.sum("exact_n").cast("long").alias("cnt")
    )
    est = (
        banded.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").cast("long").alias("cms_count"))
    )
    return est.filter(F.col("cms_count") >= threshold).select(
        F.col("tok").alias("token"), "exact_n", "cms_count"
    )


def hll_distinct(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(group, n_registers_hit, n_zero_registers, hll_estimate,
    exact_distinct): per-group HyperLogLog raw cardinality estimate of the
    distinct token set, exact count alongside.

    No distinct() pass is needed — duplicate tokens hash to the same
    (register, rank) and max() absorbs them, which is the whole point of
    the sketch: the shuffle after map-side combine is at most m=256 rows
    per group per task regardless of token volume. Register ranks use
    length(bin(w)) — exact integer bit-length on both engines — and the
    register sum is the exact-integer form described in the module
    docstring.
    """
    toks = token_stream(df, text_col, F.col(group_col).alias("grp"))

    # ONE corpus tokenization feeding both the registers and the exact
    # count: duplicate tokens hash to the same (register, rank) and max()
    # absorbs them, so hashing the DISTINCT (grp, tok) set yields identical
    # registers — and the md5+Horner chain runs once per distinct token,
    # not once per occurrence. count_distinct's own partial-distinct
    # shuffle is the same (grp, tok) exchange this groupBy performs, so
    # the plan strictly drops one corpus scan (guide §2.4).
    vocab = toks.groupBy("grp", "tok").agg(F.lit(1)).select("grp", "tok")
    vocab = vocab.localCheckpoint(eager=False)  # registers + exact branches

    # md5 bound once, fold as one sql-string expression (the inline-Column
    # fold duplicated the md5 subtree 16x in the analyzed tree and paid
    # ~100 py4j round-trips per build — see dedup_scale.minhash_wide)
    hashed = vocab.selectExpr("grp", "md5(tok) AS hx").selectExpr(
        "grp", f"({horner_fold_sql('hx')}) AS h"
    ).select(
        "grp",
        (F.col("h") % HLL_M).alias("reg"),
        F.expr(f"h div {HLL_M}").alias("w"),
    )
    ranked = hashed.select(
        "grp",
        "reg",
        F.when(F.col("w") == 0, F.lit(_HLL_WBITS))
        .otherwise(F.lit(_HLL_WBITS) - F.length(F.bin(F.col("w"))))
        .cast("int")
        .alias("rank"),
    )
    regs = ranked.groupBy("grp", "reg").agg(F.max("rank").alias("m_rank"))

    # group list from the sketch-sized register frame, NOT a third
    # corpus scan: a group absent from regs has zero tokens and would be
    # dropped by the final inner join with `exact` anyway
    groups = regs.select("grp").distinct()
    all_regs = groups.crossJoin(
        F.broadcast(
            regs.sparkSession.range(HLL_M).select(
                F.col("id").cast("bigint").alias("reg")
            )
        )
    )
    full = all_regs.join(regs, ["grp", "reg"], "left").select(
        "grp", "reg", F.coalesce(F.col("m_rank"), F.lit(0)).alias("m_rank")
    )
    summed = full.groupBy("grp").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS} - m_rank)")
        )
        .cast("long")
        .alias("s"),
        F.sum(F.when(F.col("m_rank") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_registers_hit"),
        F.sum(F.when(F.col("m_rank") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_registers"),
    )
    exact = vocab.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return (
        summed.join(exact, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_registers_hit",
            "n_zero_registers",
            F.round(
                F.lit(HLL_NUMERATOR) / F.col("s").cast("double"), 6
            ).alias("hll_estimate"),
            "exact_distinct",
        )
    )


BLOOM_M = 65536  # bits (2^16; sized so the eval set loads the filter lightly)
BLOOM_K = 4  # hash functions = disjoint md5 spans (rows 0..3 of _cms_bucket)
BLOOM_G = 8  # words per shingle fed to the filter


def bloom_ngram_filter(
    probe_df: DataFrame,
    eval_df: DataFrame,
    g: int = BLOOM_G,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_grams, n_hits, flagged): Bloom-filter n-gram
    decontamination — the 100 TB shape of "does this training document
    share any `g`-gram with the eval/benchmark set".

    The eval side is folded into an m-bit Bloom filter (k bit positions
    per gram, each a Horner fold of a disjoint 8-hex-char span of ONE
    md5 per gram — the `_cms_bucket` family); the filter ships to the
    executors inside an Arrow mapInPandas closure (the codebook pattern:
    a set of <= m distinct bit positions is driver-small BY DEFINITION —
    it IS the object every decontamination system broadcasts), so
    probing the corpus is map-only: one md5 per sliding gram, k
    vectorized numpy bitset lookups, per-batch partial hit counts, one
    doc-keyed combine. Nothing corpus-sized ever shuffles — the
    exact-join alternative (corpus grams x eval grams) shuffles every
    gram in the corpus, which is precisely what a 13-gram overlap check
    against a fixed benchmark must not do at scale.

    Plan history: the first cut built the bitset as a 65536-element
    BOOLEAN ARRAY COLUMN (interpreted transform + array_contains per
    element = m x |set| lambda steps) and crossJoined it onto the probe
    frame, where the join materialized the whole array into EVERY gram
    row — 17 s at sf0.1 against ~1.5 s for this form, the same
    copy-down failure the IVF codebook path hit with its broadcast
    crossJoin (similarity.ivf_cells docstring).

    One-sided error only: `flagged = n_hits > 0` can false-positive at
    the standard (1 - e^{-kn/m})^k rate but never false-negative, so it
    is a safe PRE-FILTER — run the exact check (`contamination_scores`)
    on the flagged sliver only. Deterministic bit-for-bit across
    engines: positions are exact integer arithmetic, the filter is a
    boolean array, no RNG.
    """
    def grams(df: DataFrame) -> DataFrame:
        staged = df.select(
            F.col(id_col).alias("doc_id"), split_words(text_col).alias("__w")
        )
        return staged.select(
            "doc_id", F.explode(word_grams(F.col("__w"), g)).alias("gram")
        ).withColumn("__md", F.md5("gram"))

    import numpy as np
    import pandas as pd

    # eval-side fold: k bucket rows per gram (JVM Horner, cheap — the eval
    # set is benchmark-sized), distinct positions collected to the driver.
    # The collect is bounded by m regardless of eval-set size.
    eval_grams = grams(eval_df)
    pos_rows = F.explode(
        F.array(*[_cms_bucket(F.col("__md"), r, m) for r in range(k)])
    ).alias("p")
    positions = eval_grams.select(pos_rows).distinct().collect()
    bits = np.zeros(m, dtype=bool)
    bits[[int(row.p) for row in positions]] = True

    def _positions_np(md: pd.Series, row: int) -> np.ndarray:
        # exact numpy replay of _cms_bucket: Horner over the ascii codes of
        # the r-th 8-hex-char span, mod FP_PRIME then mod width. h < p and
        # p * 131 + 127 < 2^63, so int64 never overflows.
        # one frombuffer over the joined 8-char spans: md5 hex is pure
        # ASCII, so the utf-8 bytes ARE the ord() codes — no per-row
        # Python list building in the corpus-sized probe hot path
        spans = md.str.slice(row * 8, row * 8 + 8)
        arr = (
            np.frombuffer("".join(spans).encode("ascii"), dtype=np.uint8)
            .reshape(-1, 8)
            .astype(np.int64)
        )
        h = np.zeros(len(arr), dtype=np.int64)
        for j in range(8):
            h = (h * 131 + arr[:, j]) % 9007199254740881
        return h % m

    id_type = probe_df.schema[id_col].dataType.simpleString()

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hit = np.ones(len(pdf), dtype=bool)
            for r in range(k):
                hit &= bits[_positions_np(pdf["__md"], r)]
            part = (
                pd.DataFrame({"doc_id": pdf["doc_id"], "h": hit.astype("int64")})
                .groupby("doc_id", as_index=False)["h"]
                .sum()
            )
            yield part.rename(columns={"h": "n_hits"})

    hits = (
        grams(probe_df)
        .mapInPandas(probe, f"doc_id {id_type}, n_hits long")
        .groupBy("doc_id")
        .agg(F.sum("n_hits").cast("long").alias("n_hits"))
    )
    base = probe_df.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(
            F.size(split_words(text_col)) - (g - 1), F.lit(0)
        ).cast("bigint").alias("n_grams"),
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("flagged"),
    )


def log_bucket_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    quantiles: tuple[int, ...] = (50, 95, 99),
    sub_buckets: int = 16,
) -> DataFrame:
    """(group, n, q50, q95, q99): mergeable quantile SKETCH over a positive
    integer column — the HdrHistogram design (log2 major buckets + linear
    sub-buckets, relative error <= 1/sub_buckets) that completes the
    sketch trio next to `cms_heavy_hitters` and `hll_distinct`. Bucket
    counts ADD, so shards/streams merge by summing — what an exact
    percentile (full sort) can never do.

    ENGINE-EXACT by construction, unlike gamma-log bucketing (DDSketch's
    ceil(log_gamma x) can flip a bucket on a 1-ulp log difference between
    engines): the major bucket e = floor(log2(x)) computes as
    length(bin(x)) - 1 — string length of the binary rendering, exact
    integer on both engines — and the sub-bucket and its lower bound are
    pure integer div/mod. The reported quantile is the lower bound of the
    first bucket whose cumulative count reaches ceil(n * q / 100),
    computed with integer arithmetic ((n*q + 99) div 100).

    Plan: one map-side-combined groupBy((group, bucket_lb)) over the scan
    — the only corpus-sized stage; everything after runs on <= 16*64
    buckets per group: a group-partitioned cumulative window (bounded
    partitions — never the r4 unpartitioned-window smell) and a final
    conditional min per group. Zero data-sized shuffles beyond the
    bucket aggregation.
    """
    x = F.col(value_col).cast("long")
    base = df.filter(x > 0).select(
        F.col(group_col).alias("grp"), x.alias("__x")
    )
    # 2^floor(log2 x) without a float log: bin() string length is
    # integer-derived, and pow(2, e) is an exact double for e <= 62
    base = base.withColumn(
        "__p",
        F.pow(F.lit(2.0), (F.length(F.bin("__x")) - 1).cast("double")).cast(
            "long"
        ),
    )
    # Overflow-safe sub-bucket arithmetic: for p >= sub_buckets (p a power
    # of two, so p DIV sub is exact) divide FIRST — (x-p)*sub would wrap
    # int64 for values >= ~2^60 (nanosecond epochs), silently corrupting
    # the quantiles. floor((x-p)*s/p) == floor((x-p)/(p/s)) exactly when
    # s | p, so the two branches agree wherever both are defined.
    lb = F.expr(
        f"__p + (CASE WHEN __p >= {sub_buckets}"
        f" THEN ((__x - __p) DIV (__p DIV {sub_buckets}))"
        f"      * (__p DIV {sub_buckets})"
        f" ELSE ((((__x - __p) * {sub_buckets}) DIV __p) * __p)"
        f"      DIV {sub_buckets} END)"
    )
    buckets = (
        base.select("grp", lb.alias("lb"))
        .groupBy("grp", "lb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("lb")
    cum = buckets.select(
        "grp",
        "lb",
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    totals = buckets.groupBy("grp").agg(F.sum("c").alias("n"))
    joined = cum.join(F.broadcast(totals), "grp")
    aggs = [F.max("n").alias("n")]
    for q in quantiles:
        # ceil(n*q/100) in pure integers: (n*q + 99) div 100
        t = F.expr(f"(n * {q} + 99) DIV 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= t, F.col("lb"))).alias(f"q{q}")
        )
    return joined.groupBy("grp").agg(*aggs).withColumnRenamed("grp", group_col)
