"""Scalable document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for 100 TB corpora:

* exact_dedup        — hash-groupBy on a content digest. One shuffle on a
                       16-byte key; map-side partial aggregation collapses
                       duplicates early.
* shingles           — word k-grams as a Column (map-only).
* jaccard_pairs      — exact n-gram Jaccard similarity join via shingle
                       inverted index (explode -> self-join on shingle ->
                       per-pair intersection counts). Quadratic blowup is
                       bounded per-shingle, so hot shingles are the skew risk:
                       at scale, drop shingles with document frequency above a
                       cap (stop-shingles), the standard trick.
* minhash_signatures — per-doc minhash vector (n seeded hash mins) computed
                       as ONE groupBy(min) over exploded (shingle x seed)
                       pairs — no UDF, pure codegen.
* lsh_candidate_pairs— band the signatures, bucket-join docs sharing a band,
                       verify with exact Jaccard. Bands/rows tune
                       precision/recall; the bucket join replaces the O(n^2)
                       all-pairs comparison with per-bucket joins.
* simhash            — b-bit fingerprint via per-bit weighted majority over
                       token hashes, again explode + groupBy aggregates;
                       simhash_wide is the same computation with two words.

Integer-fingerprint near-duplicates share ONE banded-Hamming core. A
fingerprint is a list of integer word columns (32-bit simhash: one word;
wide simhash: [fp_lo, fp_hi]; image dHash / audio: one signed 64-bit word):

* _simhash_words — the fingerprinter behind simhash and simhash_wide.
* _banded        — band i of width w is (word[i*w // word_bits] >>
                   (i*w % word_bits)) & mask; rejects bands that straddle
                   two words and bands <= max_hamming.
* _hamming       — the verify: sum over words of bit_count(xor).
* _self_pairs    — materializes the narrowed (id, words) frame once, bucket
                   self-join, in-join verify, optional hot-bucket cap.

Wrappers: simhash_near_dup_pairs, simhash_near_dup_pairs_wide,
fingerprint_near_dup_pairs, snapshot_neardup_delta_from_fp (banding and
verify on an asymmetric probe join) and the batch mode of the streaming
detectors in streaming/windows.py.

All hashes are the shared md5-Horner (operators/text.md5_horner_sql), so the
DuckDB oracle reproduces every intermediate value exactly.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import driver_gate
from radar_output_restructure_spark.operators.text import (
    FP_PRIME,
    horner_fold_sql,
    split_words,
    windows,
    word_grams,
)

HASH_CHARS = 12  # 12 hex chars of md5 through Horner — plenty for test scales

# seeded minhash permutations: h_i = (A_i * h0 + B_i) mod FP_PRIME.
# A_i odd and small so A_i * h0 < 2^61 stays exact in int64 on both engines.
def minhash_seed_coeffs(i: int) -> tuple[int, int]:
    return 131 + 2 * i, 1000003 * i + 1


def shingles_from_words(words: Column, k: int = 3) -> Column:
    """Distinct word k-grams from a MATERIALIZED words-array column.

    `words` must be a plain column reference, not a split() expression
    (see `text.windows`).
    """
    return F.array_distinct(word_grams(words, k))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams of a text column (lowercased, ws-normalized).

    Prefer the two-step `split_words` -> `shingles_from_words` on a
    materialized column in hot paths (see shingles_from_words docstring).
    """
    return shingles_from_words(split_words(col), k)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-digest groups: digest -> (canonical id, count), ONE ROW PER
    DISTINCT DIGEST including singletons (dup_group_size_hist and the
    dedup_exact_docs oracle rely on the unfiltered output). Keep-min-id is
    the deterministic survivor rule; filter `n_copies > 1` downstream when
    only actual duplicate groups are wanted.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    # materialize the words array in its own projection so the gram lambda
    # slices a bound column instead of re-running split() per element
    w = df.select(F.col(id_col).alias("doc"), split_words(text_col).alias("__words"))
    return w.select(
        "doc", F.explode(shingles_from_words(F.col("__words"), k)).alias("shingle")
    )


def _inverted_index_pairs(
    ex: DataFrame, max_token_df: int | None
) -> DataFrame:
    """Shared inverted-index core: exploded (doc, shingle) -> per-pair
    (doc_a, doc_b, n_common, n_a, n_b). Both the symmetric Jaccard scorer
    and the directional containment scorer read this frame; only their
    final scoring selects differ.

    `max_token_df is not None` (NOT truthiness: 0 is a valid, tightest
    cap) drops stop-shingles hotter than the cap before the self-join —
    the skew bound that keeps the per-shingle quadratic blowup controlled
    at corpus scale."""
    if max_token_df is not None:
        hot = ex.groupBy("shingle").count().filter(F.col("count") > max_token_df)
        ex = ex.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # Carry each doc's shingle count THROUGH the self-join instead of
    # joining a sizes frame onto the PAIR frame twice afterwards — the
    # sparse_cosine_pairs norm-carry shape: 8 bytes per posting row through
    # the shingle shuffle replaces two pair-frame joins. first() is exact:
    # n is constant per doc. The count is a window over the doc partition,
    # so both self-join legs read ONE materialization of the sized
    # postings. The explicit partition count keeps AQE from coalescing the
    # doc exchange, whose partitions become the self-join's parallelism.
    parts = int(ex.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sized = (
        ex.repartition(parts, "doc")
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .localCheckpoint(eager=False)
    )
    a = sized.select(
        F.col("doc").alias("doc_a"), "shingle", F.col("n").alias("na")
    )
    b = sized.select(
        F.col("doc").alias("doc_b"), "shingle", F.col("n").alias("nb")
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
        )
    )


def _jaccard_from_exploded(
    ex: DataFrame, threshold: float, max_token_df: int | None
) -> DataFrame:
    """Inverted-index Jaccard join over an exploded (doc, shingle) frame."""
    return (
        _inverted_index_pairs(ex, max_token_df)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity join: pairs with J >= threshold.

    At scale pass `max_shingle_df` to drop stop-shingles before the self-join
    (skew cap); the testdata corpus is small enough to skip it.
    """
    ex = _exploded_shingles(df, text_col, id_col, k)
    return _jaccard_from_exploded(ex, threshold, max_shingle_df)


def char_ngrams_from_norm(norm: Column, n: int = 5) -> Column:
    """Distinct character n-grams of a MATERIALIZED normalized-text column
    (same bound-column rule as shingles_from_words: an inline expression
    would re-evaluate per gram under the interpreted lambda)."""
    return F.array_distinct(
        windows(F.length(norm), n, lambda i: F.substring(norm, i, n))
    )


def char_ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup join — catches intra-word edits and
    boundary shifts that word shingles miss. Same inverted-index plan as
    jaccard_pairs; char grams are denser than word shingles, so the
    `max_gram_df` stop-gram cap matters at a smaller corpus size.
    """
    w = df.select(
        F.col(id_col).alias("doc"),
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ").alias(
            "__norm"
        ),
    )
    ex = w.select(
        "doc", F.explode(char_ngrams_from_norm(F.col("__norm"), n)).alias("shingle")
    )
    return _jaccard_from_exploded(ex, threshold, max_gram_df)


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    pairs_materialized: bool = False,
) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate-pair set (doc_a, doc_b).

    The LSH verify step: instead of the all-pairs inverted-index join, the
    corpus is first semi-joined down to the documents that appear in any
    candidate pair (broadcast — the pair list is small by construction), so
    shingling and the intersection join touch only candidate docs. Work is
    proportional to candidates, not corpus^2."""
    # the pair list is referenced by every branch below (sizes, both sides of
    # the intersection, the doc filter); without a materialization barrier
    # Spark inlines the ENTIRE candidate-generation subplan into each use
    # (measured 22 scans / 47 shuffles for the LSH query). localCheckpoint
    # computes it once — it is small by construction (LSH-bucketed).
    # `pairs_materialized=True` skips the barrier when the caller already
    # checkpointed the frame (minhash_estimate_error): re-checkpointing a
    # checkpoint pays a second plan compile + copy for nothing.
    if not pairs_materialized:
        pairs = pairs.localCheckpoint(eager=False)
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    df = df.join(F.broadcast(cand_docs), id_col, "left_semi")
    ex = _exploded_shingles(df, text_col, id_col, k)
    # ex feeds three branches (sizes + both sides of the intersection);
    # without the barrier the semi-join + scan + shingling re-runs per
    # branch (same rule as _inverted_index_pairs)
    ex = ex.localCheckpoint(eager=False)
    # sizes is referenced twice below (sa + sb): without a barrier the
    # candidate-shingle aggregation compiles and runs once per reference
    # (r12 — the r11 lsh plan shows two HashAggregate/Exchange pairs over
    # the ex checkpoint). It is one row per CANDIDATE doc — tiny.
    sizes = ex.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    p = F.broadcast(pairs.select("doc_a", "doc_b"))
    inter = (
        ex.join(p, ex["doc"] == p["doc_a"])
        .select("doc_a", "doc_b", "shingle")
        .join(
            ex.select(F.col("doc").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def minhash_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(doc, m0..m{n-1}): the MinHash signature as one row per document.

    Each shingle is md5-hashed ONCE (h0); the n seeded hashes are affine
    permutations (A_i*h0+B_i) mod p — pure integer arithmetic, so the plan is
    explode(shingles) -> one groupBy(doc) carrying n min-aggregates
    (map-side partial min, single shuffle, no row blowup). At 100 TB this
    shuffles one row per document, not one per (shingle x seed). Wide form is
    the primitive: banding and similarity read it without re-aggregation."""
    ex = _exploded_shingles(df, text_col, id_col, k)
    # Bind the md5 hex into its own projection, then Horner-fold the bound
    # column via ONE sql-string expression: the inline-Column form rebuilt
    # the md5 subtree once per folded char (12 copies for the analyzer to
    # walk) and paid ~50 py4j round-trips per fold — measured the dominant
    # cost of plan CONSTRUCTION for every fingerprint query (guide §1:
    # build time is part of the query's wall clock). CollapseProject keeps
    # the binding projection (hx referenced 12x, non-trivial), so md5 runs
    # once per row at execution too. Arithmetic unchanged — oracle-exact.
    ex = ex.selectExpr(
        "doc", f"substring(md5(shingle), 1, {HASH_CHARS}) AS hx"
    ).selectExpr("doc", f"({horner_fold_sql('hx', HASH_CHARS)}) AS h0")
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_seed_coeffs(i)
        aggs.append(
            F.expr(f"min((h0 * {a} + {b}) % {FP_PRIME})").alias(f"m{i}")
        )
    return ex.groupBy("doc").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(doc, seed, minhash): long-form unpivot of `minhash_wide`."""
    wide = minhash_wide(df, text_col, id_col, k, num_hashes)
    sig = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("bigint").alias("seed"), F.col(f"m{i}").alias("minhash")
                )
                for i in range(num_hashes)
            ]
        )
    ).alias("s")
    return wide.select("doc", sig).select("doc", "s.seed", "s.minhash")


def band_hashes(wide: DataFrame, num_hashes: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(doc, band, band_hash) from a WIDE signature frame — a pure projection
    (one tiny explode of `bands` structs), no re-aggregation of signatures.

    band key = md5 of the sorted "seed:minhash" strings of the band, matching
    the long-form/list_sort oracle rendering exactly.
    """
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"rows_per_band ({rows_per_band}) must divide num_hashes "
            f"({num_hashes}): trailing signatures would be silently "
            "ignored and LSH recall would degrade with no error"
        )
    # One parsed SQL string instead of ~40 py4j Column calls (the r11
    # fingerprint-construction pattern, r12: the band extraction was the
    # remaining Column-algebra loop in the LSH build path). Expressions
    # identical: concat_ws casts the bigint minhash to string exactly as
    # the Column form did, sort_array default is ascending, and inline()
    # emits the same (band, band_hash) columns the explode+select did.
    structs = []
    for band in range(num_hashes // rows_per_band):
        seeds = range(band * rows_per_band, (band + 1) * rows_per_band)
        entries = ", ".join(
            f"concat_ws(':', '{s}', m{s})" for s in seeds
        )
        structs.append(
            f"named_struct('band', {band}, 'band_hash', "
            f"md5(concat_ws(',', sort_array(array({entries})))))"
        )
    return wide.selectExpr("doc", f"inline(array({', '.join(structs)}))")


def lsh_candidate_pairs(
    wide: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Docs sharing at least one LSH band bucket (candidate near-duplicates).

    Input is the `minhash_wide` frame; the self-join runs per
    (band, band_hash) bucket — the LSH trick that replaces all-pairs.
    """
    banded = band_hashes(wide, num_hashes, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


# --- banded-Hamming near-duplicates (the core: see the module docstring) ---

#: the wide SimHash: two 32-bit words in 4 x 16-bit bands (65,536 buckets
#: per band)
WIDE_WORDS = ["fp_lo", "fp_hi"]
WIDE_WORD_BITS = 32
WIDE_BANDS = 4


def _simhash_words(
    df: DataFrame, text_col: str, id_col: str, names: list[str], word_bits: int
) -> DataFrame:
    """(doc, *names): a SimHash of `len(names)` words of `word_bits` bits.

    Word k Horner-folds hex chars 12k+1..12k+12 of the token's md5 and has
    bit b set when the token votes on it sum positive. One md5 per token
    (the folds read substrings of it), one groupBy(doc) carrying every vote
    sum (map-side combined, single shuffle). Fold, votes and fingerprint
    are SQL-string expressions: the Column-algebra form paid hundreds of
    py4j round-trips per plan and duplicated the md5 subtree per folded
    char in the analyzed tree (see minhash_wide); the arithmetic is the
    oracle's."""
    words = range(len(names))
    hashed = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(split_words(text_col)).alias("tok"),
        )
        .selectExpr(
            "doc",
            *[
                f"substring(md5(tok), {k * HASH_CHARS + 1}, {HASH_CHARS})"
                f" AS c{k}"
                for k in words
            ],
        )
        .selectExpr(
            "doc",
            *[
                f"({horner_fold_sql(f'c{k}', HASH_CHARS)}) AS h{k}"
                for k in words
            ],
        )
    )
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h{k}, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v{k}_{b}")
        for k in words
        for b in range(word_bits)
    ]
    fp_sql = lambda k: " + ".join(  # noqa: E731
        f"(CASE WHEN v{k}_{b} > 0 THEN {2**b} ELSE 0 END)"
        for b in range(word_bits)
    )
    return (
        hashed.groupBy("doc")
        .agg(*votes)
        .selectExpr("doc", *[f"({fp_sql(k)}) AS {names[k]}" for k in words])
    )


def _banded(
    fp: DataFrame, words: list[str], word_bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """`fp` plus (band, bv): one row per band. Band i of width w is
    `(word[i*w // word_bits] >> (i*w % word_bits)) & mask`.

    With bands > max_hamming, recall is exact by pigeonhole: <= max_hamming
    differing bits cannot touch every band, so each qualifying pair shares
    at least one (band, bv) bucket."""
    bits = word_bits * len(words)
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if bands <= max_hamming:
        raise ValueError(
            "bands must exceed max_hamming for exact pigeonhole recall"
        )
    width = bits // bands
    if word_bits % width != 0:
        raise ValueError("a band must not straddle two fingerprint words")
    mask = (1 << width) - 1
    return fp.select(
        "*",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(
                            F.col(words[i * width // word_bits]),
                            i * width % word_bits,
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ),
    )


def _band_side(
    banded: DataFrame, id_col: str, words: list[str], tag: str
) -> DataFrame:
    """One side of a bucket join: (doc_<tag>, <tag>0.., band, bv)."""
    return banded.select(
        F.col(id_col).alias(f"doc_{tag}"),
        *[F.col(w).alias(f"{tag}{k}") for k, w in enumerate(words)],
        "band",
        "bv",
    )


def _hamming(n_words: int, a: str, b: str) -> Column:
    """The in-join verify: sum over the words of popcount(a_k xor b_k)."""
    return reduce(
        operator.add,
        (
            F.bit_count(F.col(f"{a}{k}").bitwiseXOR(F.col(f"{b}{k}")))
            for k in range(n_words)
        ),
    ).cast("int")


def _self_pairs(
    fp: DataFrame,
    id_col: str,
    words: list[str],
    word_bits: int,
    bands: int,
    max_hamming: int,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming): every pair of `fp` rows within
    `max_hamming` bits, doc_a < doc_b.

    The narrowed (id, words) frame is materialized once: it feeds both
    sides of the bucket equijoin under different names, so ReuseExchange
    cannot share them, and an expensive upstream (tokenize + vote
    aggregation, a mapInPandas image decode) would otherwise run twice.
    Each banded row carries its whole fingerprint, so the Hamming verify
    runs inside the bucket join; the only shuffles are the bucket join and
    the distinct over verified pairs (a pair may collide in several bands).

    `max_bucket_df` drops (band, bv) buckets holding more rows than the cap
    before the self-join: boilerplate-heavy corpora produce a few degenerate
    buckets that dominate the quadratic verify. The hot buckets broadcast
    back as an anti-join, so the cap costs one bucket-count aggregate, not a
    corpus shuffle. Unset, recall stays exact."""
    names = [f"w{k}" for k in range(len(words))]
    narrow = fp.select(
        F.col(id_col).alias("doc"),
        *[F.col(w).alias(n) for w, n in zip(words, names)],
    ).localCheckpoint(eager=False)
    banded = _banded(narrow, names, word_bits, bands, max_hamming)
    if max_bucket_df is not None:
        hot = (
            banded.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_df)
            .select("band", "bv")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bv"], "left_anti")
    a = _band_side(banded, "doc", names, "a")
    b = _band_side(banded, "doc", names, "b")
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", _hamming(len(words), "a", "b").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(doc, simhash): b-bit fingerprint; bit b set when the weighted majority
    of token hashes has bit b set. Near-duplicates differ in few bits
    (compare with bit_count(xor) downstream)."""
    return _simhash_words(df, text_col, id_col, ["simhash"], bits)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming): SimHash near-duplicate pairs via banded
    hamming buckets — the consumer of the `simhash` fingerprint and the
    bit-domain analog of MinHash band LSH.

    The b-bit fingerprint splits into `bands` equal bands; candidate pairs
    share at least one (band index, band value) bucket, then verify with an
    exact popcount of the XOR. With bands > max_hamming the recall is EXACT
    by pigeonhole. At 100 TB: one groupBy per fingerprint (simhash itself),
    a map-only band explode, a bucket-equijoin (never all-pairs), and
    integer popcount verification restricted to candidates.
    """
    fp = simhash(df, text_col, id_col, bits)
    return _self_pairs(fp, "doc", ["simhash"], bits, bands, max_hamming)


def simhash_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, fp_lo, fp_hi): 64-bit SimHash as two independent 32-bit halves.

    The scale geometry the r4 verdict prescribed for `simhash_near_dup_pairs`:
    a 64-bit fingerprint banded into 16-bit bands gives 65,536 buckets per
    band instead of 256, so bucket occupancy (and the per-bucket quadratic
    verify) stays bounded as the corpus grows ~256x further than the 32-bit
    geometry before saturating.

    Two halves rather than one 64-bit value because (a) the md5-Horner hash
    yields 53 usable bits, so independent bits 32..63 need a SECOND fold
    anyway (hex chars 13..24 of the same md5 — no extra md5 call), and (b)
    sub-2^32 values keep every shift/xor/popcount in non-negative bigint
    range on BOTH engines (no signed-bit traps in the DuckDB oracle).
    `fp_lo` equals `simhash(bits=32).simhash`: both are word 0 of
    `_simhash_words`.
    """
    return _simhash_words(df, text_col, id_col, WIDE_WORDS, WIDE_WORD_BITS)


def simhash_near_dup_pairs_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup pairs over the WIDE (64-bit)
    SimHash — the scale-safe variant of `simhash_near_dup_pairs`, mirroring
    how the auto-plane `embedding_near_dup_pairs` supersedes the
    fixed-plane LSH (scripts/scale_stress.py keeps the fixed geometry as
    `embedding_near_dup_fixed4_reference`).

    4 bands x 16 bits: bands (4) > max_hamming (3) keeps recall EXACT by
    pigeonhole, while 65,536 buckets/band holds per-bucket occupancy ~256x
    lower than the 32-bit/8-bit geometry at the same corpus size (SCALE.md
    stress rows). `max_bucket_df` optionally drops band buckets hotter than
    the cap before the self-join (see `_self_pairs`); with the cap unset
    recall stays exact. hamming = popcount(xor lo) + popcount(xor hi).
    """
    fp = simhash_wide(df, text_col, id_col)
    return _self_pairs(
        fp, "doc", WIDE_WORDS, WIDE_WORD_BITS, WIDE_BANDS, max_hamming,
        max_bucket_df,
    )


#: near-dup pairs the driver union-find will hold; above this the
#: distributed label propagation takes over
CLUSTER_DRIVER_MAX_PAIRS = 5_000_000


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(doc, cluster): connected components of the near-duplicate pair graph,
    cluster id = min doc id in the component — the canonicalization step that
    turns pairwise near-dup hits into survivor groups.

    Two physical paths, same result, chosen by the shared
    `driver_gate.collect_if_fits` against `CLUSTER_DRIVER_MAX_PAIRS`:

    * pair graph fits the driver (the NORMAL case — near-dup pairs are a
      vanishing fraction of the corpus): collect once, union-find in Python
      (linear, alpha-inverse), the labels return as a local relation
      (`driver_gate.local_frame`). No iterations.
    * larger: iterative min-label propagation (the Pregel/GraphX pattern on
      plain DataFrames) — per round one join + partial-agg min over the
      symmetrized edges, rounds = component diameter, localCheckpoint per
      round keeps plans flat.
    """
    spark = pairs.sparkSession
    # one evaluation of the (possibly expensive) pair plan: the barrier
    # makes the gate, the edges union (which inlines its input into BOTH
    # unionByName branches), and the label seed all read a single
    # materialization instead of re-running candidate generation 3x
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    table = driver_gate.collect_if_fits(pairs, CLUSTER_DRIVER_MAX_PAIRS)
    if table is not None:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(*table.to_pydict().values()):  # (doc_a, doc_b) columns
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by value: smaller id becomes the root => root == min
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        labels = [(doc, find(doc)) for doc in parent]
        # preserve the pairs' actual id type (string/int ids must behave
        # the same under the cap as over it, where the distributed path
        # inherits the type naturally)
        id_type = pairs.schema["doc_a"].dataType.simpleString()
        schema = f"doc {id_type}, cluster {id_type}"
        return driver_gate.local_frame(spark, labels, schema)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
        .localCheckpoint()
    )
    edges = edges.localCheckpoint()
    changed: int | None = None  # None = loop body never ran (budget 0)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc"])
            .groupBy(F.col("src").alias("doc"))
            .agg(F.min("cluster").alias("n_min"))
        )
        updated = (
            labels.join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.least(F.col("cluster"), F.coalesce("n_min", "cluster")).alias(
                    "cluster"
                ),
                (F.coalesce("n_min", "cluster") < F.col("cluster")).alias("__chg"),
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            break
    else:
        # components with diameter > max_iterations would silently get SPLIT
        # cluster ids; surface it instead (caller can raise the budget)
        import warnings

        still = "unknown" if changed is None else str(changed)
        warnings.warn(
            f"label propagation did not converge after {max_iterations} "
            f"iterations ({still} labels still changing); cluster ids may "
            "be split for long-diameter components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def source_minhash_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(source_a, source_b, n_matching, est_jaccard): estimated shingle-set
    Jaccard between every pair of SOURCES — the mirror/partial-dump overlap
    matrix that tells a 100 TB crawl which domains to collapse before
    doc-level dedup even starts.

    The MinHash signature of a source's UNION of shingles is just
    `minhash_wide` keyed by the source instead of the doc id (min is
    insensitive to cross-document repeats), so the corpus contributes ONE
    shuffle row per source; the pairwise stage then joins a
    domain-cardinality frame against itself — kilobytes, broadcast — and
    scores each pair by the matching-slot fraction, the unbiased Jaccard
    estimator. The exact alternative (shingle-set self-join across source
    pairs) shuffles every posting against every co-occurring source and
    dies on stop-grams; this plan never materializes a shingle past the
    signature aggregate.
    """
    wide = minhash_wide(
        df, text_col=text_col, id_col=group_col, k=k, num_hashes=num_hashes
    )
    a = wide.select(
        F.col("doc").alias("source_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    b = wide.select(
        F.col("doc").alias("source_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            matches.cast("bigint").alias("n_matching"),
            F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
        )
    )


def snapshot_delta_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, digest, status): classify an incoming crawl batch against
    the corpus HISTORY — `dup_of_history` (content digest already ingested
    in a prior snapshot), `dup_in_batch` (first seen in this batch but not
    by this row; min-id row is the survivor), or `new`. The incremental
    ingest primitive: every refresh dedups only its delta instead of
    re-deduping 100 TB from scratch.

    Plan: one digest per row on each side (map-only md5), the batch's
    min-id canonical per digest (map-side-combined groupBy), then a
    digest-keyed LEFT join against the DISTINCT history digest set. All
    three stages key on the digest — AQE co-partitions them into one
    shuffle lineage, and the history side carries 16 bytes/doc, not
    documents. At petabyte history the refinement is a sorted digest
    ledger + Bloom prefilter so only probable hits reach the join
    (`bloom_ngram_filter` is the same trick at n-gram granularity);
    correctness here never depends on it.
    """
    # NULL text behaves as empty (repo-wide convention): md5(NULL) is NULL
    # and the digest inner-join against `canon` would silently DROP the doc
    # from the classification output — every batch doc must get a status row
    new = new_df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("digest"),
    )
    hist = (
        history_df.select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("digest")
        )
        .distinct()
        .withColumn("__hist", F.lit(1))
    )
    canon = new.groupBy("digest").agg(F.min("doc_id").alias("__canon"))
    return (
        new.join(canon, "digest")
        .join(hist, "digest", "left")
        .select(
            "doc_id",
            "digest",
            F.when(F.col("__hist").isNotNull(), F.lit("dup_of_history"))
            .when(F.col("doc_id") != F.col("__canon"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def fingerprint_near_dup_pairs(
    fp: DataFrame,
    fp_col: str,
    id_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """(id_a, id_b, hamming): banded near-dup pairs over an ALREADY-COMPUTED
    one-word integer fingerprint column — the shared near-dup core
    (`_self_pairs`) as used by perceptual image hashing
    (operators/multimodal.image_near_dup_pairs), audio fingerprints and any
    other b-bit signature. Exact pigeonhole recall when bands > max_hamming.
    """
    return _self_pairs(fp, id_col, [fp_col], bits, bands, max_hamming).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "hamming"
    )


def snapshot_neardup_delta(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_id, n_near_dup, min_hamming, kept): NEAR-dup classification of
    an incoming crawl batch against the corpus history — the fuzzy sibling
    of `snapshot_delta_dedup` (that one catches byte-identical re-crawls
    via content digest; this one catches boilerplate-shifted/ad-rotated
    re-crawls whose text drifted a few tokens).

    Both sides fingerprint with the WIDE 64-bit SimHash and band into
    4x16-bit buckets, but the join is ASYMMETRIC: incoming bands probe
    history bands only — no history x history and no batch x batch pairs
    ever materialize, so a steady-state refresh costs O(batch) probes
    against bucket-bounded history occupancy, not a corpus self-join.
    Recall is exact by pigeonhole (4 bands > 3 max_hamming). Per incoming
    doc: how many history near-dups (distinct, cross-band-deduped), the
    closest hamming (-1 when none), kept = no near-dup in history.

    At petabyte history the fingerprint+band frame is the thing a
    production pipeline PERSISTS between refreshes (it is `partitionBy`
    -friendly on (band, bv) — the `ann_index.py` pattern); recomputing it
    here keeps the operator self-contained and the oracle replayable.
    """
    # NULL text behaves as empty (repo-wide convention): split(NULL) yields
    # no tokens, the doc would vanish from fp_new and from the kept/near-dup
    # report entirely — every batch doc must be classified
    empty_as_text = lambda d: d.withColumn(  # noqa: E731
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )
    fp_new = simhash_wide(
        empty_as_text(new_df), text_col, id_col
    ).localCheckpoint(eager=False)
    fp_old = simhash_wide(empty_as_text(history_df), text_col, id_col)
    return snapshot_neardup_delta_from_fp(fp_new, fp_old, max_hamming)


def snapshot_neardup_delta_from_fp(
    fp_new: DataFrame,
    fp_old: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """`snapshot_neardup_delta` over PRE-COMPUTED wide fingerprint frames
    (doc, fp_lo, fp_hi — the `simhash_wide` shape). This is the entry a
    refresh pipeline uses at scale: the history fingerprints are persisted
    between refreshes and only the incoming batch is fingerprinted, and a
    caller whose batch and history slice the SAME corpus fingerprints it
    once and filters (one corpus pass instead of two). `fp_new` is read by
    two branches (band probe + final left join) — pass it materialized
    (localCheckpoint) when it is not already a cheap scan."""
    geometry = (WIDE_WORDS, WIDE_WORD_BITS, WIDE_BANDS, max_hamming)
    probe = _band_side(_banded(fp_new, *geometry), "doc", WIDE_WORDS, "new")
    hist = _band_side(_banded(fp_old, *geometry), "doc", WIDE_WORDS, "old")
    pairs = (
        probe.join(hist, ["band", "bv"])
        .select(
            "doc_new",
            "doc_old",
            _hamming(len(WIDE_WORDS), "new", "old").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may collide in several bands
    )
    hits = pairs.groupBy("doc_new").agg(
        F.count(F.lit(1)).alias("n_near_dup"),
        F.min("hamming").alias("min_hamming"),
    )
    return (
        fp_new.select("doc")
        .join(hits, fp_new["doc"] == hits["doc_new"], "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce(F.col("n_near_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_near_dup"),
            F.coalesce(F.col("min_hamming"), F.lit(-1))
            .cast("int")
            .alias("min_hamming"),
            F.col("doc_new").isNull().cast("int").alias("kept"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, containment_a, containment_b): DIRECTIONAL
    shingle-containment join — |A∩B| / |A| and |A∩B| / |B| for pairs where
    either direction reaches `threshold`.

    The asymmetric complement of `jaccard_pairs`: a short document quoted
    wholesale inside a long one scores near-zero Jaccard (the union is
    dominated by the long doc) but containment ~1.0 in the short->long
    direction — the standard signal for quote/boilerplate/subset
    duplication in web-corpus curation, where symmetric similarity misses
    exactly the high-copy cases.

    Same inverted-index plan as `jaccard_pairs` (one exploded shingle
    frame feeding sizes + both self-join sides, per-shingle-bounded pair
    generation, optional stop-shingle df cap for skew) — only the final
    scoring differs, so the 100 TB story is identical.
    """
    ex = _exploded_shingles(df, text_col, id_col, k)
    ca = F.round(F.col("n_common") / F.col("n_a"), 6)
    cb = F.round(F.col("n_common") / F.col("n_b"), 6)
    return (
        _inverted_index_pairs(ex, max_shingle_df)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= threshold
        )
    )


# --- round-8 additions: dedup observability + sketch validation -------------


def source_dup_rate(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, n_docs, n_dup_docs, dup_rate_micro): per-source share of
    documents whose exact content (md5 digest) appears more than once in
    the WHOLE corpus — the first number a curation run reports per crawl/
    dump, and the signal for source-level blocklisting (a mirror shows up
    as dup_rate ~ 1).

    Plan: digest df via one map-side-combined groupBy(md5), the
    co-partitioned join back on digest (reuses the exchange), then a
    |sources|-keyed aggregation — the same single-md5-shuffle shape as
    exact_dedup_groups, nothing quadratic.
    """
    w = df.select(
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("digest"),
    )
    w = w.localCheckpoint(eager=False)  # feeds digest-df + per-source scan
    counts = w.groupBy("digest").agg(F.count(F.lit(1)).alias("__n"))
    return (
        w.join(counts, "digest")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("__n") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.round(F.col("n_dup_docs") * 1000000.0 / F.col("n_docs"), 0)
            .cast("bigint")
            .alias("dup_rate_micro"),
        )
    )


def dup_group_size_hist(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(n_copies, n_groups): histogram of exact-duplicate group sizes —
    the shape that decides dedup strategy (a long tail of 2-copy groups
    vs a few mega-groups wants different survivors/skew handling). Two
    map-side-combined aggregations, digest shuffle then |distinct sizes|
    rows; sketch-free and exact."""
    return (
        exact_dedup_groups(df, text_col, id_col)
        .groupBy(F.col("n_copies").cast("bigint").alias("n_copies"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"))
    )


def minhash_estimate_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(doc_a, doc_b, n_matching, est_micro, exact_micro, abs_err_micro):
    MinHash-estimated vs EXACT Jaccard for every LSH candidate pair — the
    sketch-calibration audit that tells you whether `num_hashes` is
    adequate before trusting estimate-only dedup at scale (E[|err|] ~
    1/sqrt(num_hashes); rising measured error means hash-budget or banding
    drift).

    Plan: signatures via the single-shuffle minhash_wide; candidates from
    band buckets; the estimate is a broadcast three-way join over the
    candidate-restricted signature frame; the exact leg is
    jaccard_for_pairs (candidate-restricted, never all-pairs). A candidate
    pair sharing NO shingle (pure band-hash collision) exact-scores 0 via
    the left join, so the audit sees false-positive candidates too.
    """
    wide = minhash_wide(df, text_col, id_col, k, num_hashes)
    wide = wide.localCheckpoint(eager=False)  # feeds bands + both est sides
    cand = lsh_candidate_pairs(wide, num_hashes, rows_per_band)
    cand = cand.localCheckpoint(eager=False)
    # restrict the signature frame to docs that appear in some candidate
    # pair BEFORE broadcasting — the corpus-wide frame is never
    # broadcastable at scale; the candidate set is small by construction
    # (same contract as jaccard_for_pairs' semi-join)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    wide_cand = wide.join(F.broadcast(cand_docs), "doc", "left_semi")
    a = wide_cand.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    b = wide_cand.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    n_matching = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("bigint")
        for i in range(num_hashes)
    )
    est = (
        cand.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_matching.cast("bigint").alias("n_matching"),
        )
    )
    exact = jaccard_for_pairs(
        df, cand, text_col, id_col, k, pairs_materialized=True
    ).select("doc_a", "doc_b", "jaccard")
    est_micro = F.round(
        F.col("n_matching") * 1000000.0 / num_hashes, 0
    ).cast("bigint")
    exact_micro = F.round(
        F.coalesce(F.col("jaccard"), F.lit(0.0)) * 1000000, 0
    ).cast("bigint")
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_matching",
            est_micro.alias("est_micro"),
            exact_micro.alias("exact_micro"),
        )
        .withColumn(
            "abs_err_micro",
            F.abs(F.col("est_micro") - F.col("exact_micro")).cast("bigint"),
        )
    )
