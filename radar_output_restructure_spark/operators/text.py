"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over a
`documents(doc_id, text, ...)` table. Every operator is a pure Column
expression (JVM-side, codegen'd) — at 100 TB these run as map-only stages
with zero shuffle; aggregations on top are ordinary groupBys.

Each operator has an exactly-equivalent ANSI-SQL rendering (see
__spark_entry__.oracle_sql) so the DuckDB oracle validates results
bit-for-bit; the shared-dialect helpers below emit the same SQL text for
both engines where the dialects overlap.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import driver_gate

# --- token counting ---------------------------------------------------------

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/punct segmentation: letter-runs, digit-runs, single punct marks
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def split_words(col: Column | str) -> Column:
    """The words array of a text column: the one tokenization rule.

    Lowercase, `trim` (spaces only), split on `TOKEN_SPLIT_RE`. Blank text
    gives `['']`; text that starts with a tab or newline keeps a leading
    `''` (`"\\tHello  World "` gives `['', 'hello', 'world']`); NULL text
    gives a NULL array. `token_stream` drops the `''` words; every other
    user keeps them: the windows (`windows`, `word_grams`), the bigram and
    trigram models' unigram tables and SimHash.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(col)), TOKEN_SPLIT_RE)


def token_stream(
    df: DataFrame, text_col: str, *carry: Column, name: str = "tok"
) -> DataFrame:
    """`carry` plus one row per `split_words` word, in column `name`, with
    the `''` words dropped: a blank document has no tokens."""
    return df.select(*carry, F.explode(split_words(text_col)).alias(name)).filter(
        F.col(name) != ""
    )


def windows(
    n: Column, k: int, element: Callable[[Column], Column], element_type: str = "string"
) -> Column:
    """The width-`k` sliding windows of a length-`n` sequence: `element(i)`
    for every start i = 1..n-k+1, or an empty `array<element_type>` when
    n < k or n is NULL.

    `element` should read bound columns (a materialized words array), not
    inline expressions: higher-order lambdas run interpreted, with no
    codegen CSE, so an inline `split()` would be re-evaluated per window.
    """
    # the guard keeps the descending sequence(1, 0) from ever being taken
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(n >= k, F.transform(starts, element)).otherwise(
        F.array().cast(f"array<{element_type}>")
    )


def word_grams(words: Column, k: int) -> Column:
    """The space-joined word k-grams of a bound words array, repeats kept."""
    return windows(
        F.size(words), k, lambda i: F.concat_ws(" ", F.slice(words, i, k))
    )


def _adjacent_pairs(arr: Column) -> Column:
    """(lhs, rhs) structs of the adjacent elements of `arr`."""
    return windows(
        F.size(arr),
        2,
        lambda i: F.struct(
            F.element_at(arr, i).alias("lhs"), F.element_at(arr, i + 1).alias("rhs")
        ),
        "struct<lhs:string,rhs:string>",
    )


def _nonblank_words(text_col: str) -> Column:
    """`split_words`, except that blank text has no words (`[]`)."""
    return F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(split_words(text_col))


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    col = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(col)
    return F.when(trimmed == "", 0).otherwise(F.size(F.split(trimmed, TOKEN_SPLIT_RE)))


def bpe_token_count(col: Column | str) -> Column:
    """Regex-based sub-word-ish token count (letters / digits / punct runs)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


# --- quality scoring --------------------------------------------------------

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "that", "for", "on")


def _word_count_normalized(col: Column) -> Column:
    """Lowercase with every non-letter run widened to TWO spaces, padded.

    Whole-word occurrences are counted as `size(split(s, '[^a-z]w[^a-z]'))-1`;
    with single-space delimiters that undercounts ADJACENT repeats ("the the"
    counts 1) because each non-overlapping match consumes the shared
    delimiter. Two-space gaps leave one delimiter character for the next
    match. Expressed without lookahead so the DuckDB oracles (RE2, no
    lookahead support) can mirror it exactly.
    """
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(col), "[^a-z]+", "  "),
        F.lit(" "),
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features.

    All ratios are double divisions of exact integer counts, so any engine
    computing the same counts produces bit-identical doubles.
    """
    col = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(col)
    n_tokens = token_count(col)
    n_punct = F.length(col) - F.length(F.regexp_replace(col, "[^A-Za-z0-9\\s]", ""))
    padded = _word_count_normalized(col)
    # ONE alternation split counts every stopword occurrence: each token
    # matches exactly one alternative, and the two-space normalization
    # keeps adjacent matches from consuming each other's delimiter — so
    # the count equals the sum of per-word splits at a tenth of the
    # regexp passes (the per-word form benched x1.7 on quality_resample)
    alt = "|".join(STOPWORDS_EN)
    n_stop = F.size(F.split(padded, f"[^a-z]({alt})[^a-z]")) - 1
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6),
        "mean_token_len": F.round(
            (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1)), 6
        ),
    }


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: long enough, not punct-heavy, has
    stopwords (natural-language-ness)."""
    f = quality_features(col)
    len_term = F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0))
    stop_term = F.least(f["stopword_ratio"] * 4, F.lit(1.0))
    return F.round((len_term + punct_term + stop_term) / 3, 6)


# --- language identification ------------------------------------------------

# tiny per-language marker lexicons (n-gram/stopword heuristic)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "was", "with"),
    "de": ("der", "die", "und", "ist", "nicht", "das"),
    "fr": ("le", "la", "les", "est", "une", "dans"),
    "es": ("el", "los", "es", "una", "que", "por"),
}


def lang_scores(col: Column | str) -> dict[str, Column]:
    col = F.col(col) if isinstance(col, str) else col
    padded = _word_count_normalized(col)
    # one alternation split per language (see quality_features.n_stop)
    return {
        lang: F.size(
            F.split(padded, f"[^a-z]({'|'.join(words)})[^a-z]")
        )
        - 1
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Predicted language: argmax of marker hits, ties -> lexicographically
    first language, zero hits -> 'und' (undetermined)."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reverse-alphabetical fold so the earliest language wins ties
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


# --- fingerprinting ---------------------------------------------------------

FP_PRIME = 9007199254740881  # largest prime < 2^53: Horner mod stays exact
FP_BASE = 131


def md5_horner_sql(expr: str, chars: int = 16) -> str:
    """SQL (shared Spark/DuckDB dialect) for a deterministic 53-bit hash:
    Horner fold of the first `chars` hex chars of md5(expr).

    Both engines implement md5/substr/ascii/% identically, so the same SQL
    text yields the same integers — the foundation for fingerprints, minhash,
    and simhash oracles.

    NOTE: inlines `md5(expr)` once per folded char. Use only where `expr` is
    evaluated a handful of times per row; in hot paths materialize the md5
    hex into a column first and fold it with `horner_fold_sql`.
    """
    h = "0"
    for j in range(1, chars + 1):
        h = f"(({h}) * {FP_BASE} + ascii(substr(md5({expr}), {j}, 1))) % {FP_PRIME}"
    return h


def horner_fold_sql(hex_col: str, chars: int = 16) -> str:
    """Same Horner fold, but over an ALREADY-MATERIALIZED md5-hex column —
    the md5 is computed once per row, and the fold is `chars` cheap
    ascii/substr ops. Shared Spark/DuckDB dialect."""
    h = "0"
    for j in range(1, chars + 1):
        h = f"(({h}) * {FP_BASE} + ascii(substr({hex_col}, {j}, 1))) % {FP_PRIME}"
    return h


def fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """53-bit content fingerprint; normalize=True collapses whitespace and
    case first (rolling-hash document signature)."""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("fingerprint requires a named column for SQL rendering")
    expr = f"`{name}`"
    if normalize:
        expr = f"lower(regexp_replace(trim({expr}), '\\\\s+', ' '))"
    return F.expr(md5_horner_sql(expr))


WINNOW_K = 8  # chars per k-gram (substring granularity of the fingerprint)
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per w k-grams
WINNOW_MOD = 1_000_000_007
WINNOW_BASE = 257  # > any expected code point spread per position


def winnow_powers(k: int = WINNOW_K) -> list[int]:
    """BASE^(k-1-j) % MOD for j = 0..k-1 — the polynomial k-gram hash
    coefficients, shared verbatim between the Spark operator and the SQL
    oracle (inlined as literals there, same pattern as the LSH planes)."""
    return [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(doc, fp): winnowed rolling-hash fingerprints — the MOSS/winnowing
    document signature (Schleimer et al., SIGMOD'03). Each char-level
    k-gram of the whitespace-normalized text hashes polynomially
    (sum ord(c[i+j]) * BASE^(k-1-j) mod MOD); each window of `w`
    consecutive k-gram hashes contributes its minimum; the distinct minima
    are the document's fingerprints. Guarantees: any shared substring of
    length >= k + w - 1 yields at least one shared fingerprint, so overlap
    detection is position-robust (unlike the whole-document `fingerprint`).

    Docs shorter than k chars (after normalization) emit no fingerprints;
    docs with fewer than w k-grams emit the single global minimum.

    MAP-ONLY, Arrow-vectorized: all arithmetic is exact int64 modular math
    (products stay < 2^63), so any engine computing the same formula —
    e.g. the DuckDB list-comprehension oracle — reproduces the integers
    bit-for-bit. Per-doc dedup happens in the batch (np.unique), so no
    Spark-side distinct/shuffle exists at any corpus size.
    """
    import numpy as np
    import pandas as pd

    powers = winnow_powers(k)
    id_type = df.schema[id_col].dataType.simpleString()

    def winnow(batches):
        for pdf in batches:
            docs_out: list[np.ndarray] = []
            fps_out: list[np.ndarray] = []
            for doc, s in zip(pdf["__id"].to_numpy(), pdf["__t"].to_numpy()):
                if s is None:
                    continue
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = len(codes) - k + 1
                if m <= 0:
                    continue
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h + codes[j : j + m] * powers[j]) % WINNOW_MOD
                if m <= w:
                    fps = h.min(keepdims=True)
                else:
                    fps = np.lib.stride_tricks.sliding_window_view(h, w).min(
                        axis=1
                    )
                fps = np.unique(fps)
                docs_out.append(np.repeat(doc, len(fps)))
                fps_out.append(fps)
            if docs_out:
                yield pd.DataFrame(
                    {
                        "doc": np.concatenate(docs_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    normalized = F.lower(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    )
    return df.select(
        F.col(id_col).alias("__id"), normalized.alias("__t")
    ).mapInPandas(winnow, f"doc {id_type}, fp bigint")


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = 20,
    min_common: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, n_common): document pairs sharing >= `min_common`
    winnowed fingerprints — substring-level near-dup/plagiarism candidates.

    Fingerprints occurring in more than `max_df` documents are STOP
    fingerprints (boilerplate k-grams every document contains) and are
    dropped before the self-join — the same frequency cap the Jaccard path
    applies to stop shingles. That cap is what keeps the join linear-ish at
    100 TB: group sizes are bounded by `max_df`, so candidate pairs per
    fingerprint are <= max_df^2 regardless of corpus size.
    """
    # the fingerprint frame feeds three branches (df-cap agg + both
    # self-join sides); materialize once instead of re-winnowing per branch
    # (same persist-before-inverted-index-join as the Jaccard path).
    fps = winnowing_fingerprints(df, text_col, id_col, k, w).localCheckpoint(
        eager=False
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    kept = fps.join(keep, "fp")
    return (
        kept.select(F.col("doc").alias("doc_a"), "fp")
        .join(kept.select(F.col("doc").alias("doc_b"), "fp"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile: tokens, quality, language, fingerprint."""
    feats = quality_features(text_col)
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def unigram_logprob_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, n_tokens, nll_micro): corpus-unigram negative log likelihood —
    the perplexity-style quality filter (low-likelihood docs are boilerplate,
    noise, or wrong-language).

    Two aggregations over the token stream: (1) corpus unigram counts
    (groupBy token — map-side combined, the classic word-count), joined
    back; (2) per-doc sum of -ln p(token). Per-token values round to integer
    MICRO-nats before summing so the result is order-independent and
    engine-exact (float accumulation is not).

    Scale design: the unigram table is VOCAB-sized — unbounded in the
    corpus — so the tokens⋈freqs join carries NO explicit broadcast hint.
    At small scale AQE converts it to a broadcast join adaptively; at
    web-corpus scale it degrades gracefully to a shuffle hash join on the
    token key (AQE skew-split handles Zipfian hot tokens) instead of
    OOMing the driver on an always-honored broadcast.

    The corpus token total reduces from the freqs frame (vocab-sized, not a
    second corpus scan) as a 1-row aggregate folded back by a broadcast
    cross join — NOT a `sum over ()` window: the global window would move
    every distinct term to ONE partition (the r4 verdict's
    corpus_vocabulary scale-killer; a web corpus has billions of terms),
    while the aggregate reduces tree-wise and ships one scalar.
    """
    # a blank doc scores over 0 tokens (token_count semantics), not over
    # one phantom '' token with a finite NLL
    tokens = token_stream(df, text_col, F.col(id_col).alias("doc"))
    # freqs feeds the total scalar AND the scored join: checkpoint the
    # VOCAB-sized table (the bigram_logprob `cb` convention) so neither
    # branch re-inlines the corpus tokenization — the un-checkpointed form
    # re-ran scan+split+explode once per reference (8 parquet scans in the
    # analyzed plan; 2 after this). The token STREAM itself is deliberately
    # NOT materialized: re-tokenizing is a map-only stage, cheaper at scale
    # than caching a corpus-sized exploded frame to executor disk.
    freqs = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    freqs = freqs.localCheckpoint(eager=False)
    total = freqs.agg(F.sum("tf").cast("double").alias("__total"))
    nll_micro = F.round(
        -F.log(F.col("tf") / F.col("__total")) * 1_000_000
    ).cast("long")
    scored = tokens.join(
        freqs.crossJoin(F.broadcast(total)).select("tok", nll_micro.alias("nll")),
        "tok",
    ).select("doc", "nll")
    per_doc = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("nll").alias("nll_micro"),
    )
    # tokenless (blank) docs score (0, 0) instead of dropping out — the
    # same convention as bigram_logprob_score's left join
    ids = df.select(F.col(id_col).alias("doc"))
    return ids.join(per_doc, "doc", "left").select(
        "doc",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.col("nll_micro"), F.lit(0)).alias("nll_micro"),
    )


#: (pattern, replacement) chain for PII scrubbing. Patterns restrict
#: themselves to the regex subset Java and RE2 interpret identically
#: (character classes, +/{n,}, alternation — no backrefs/lookaround), so a
#: SQL oracle reproduces the scrub byte-for-byte. Order matters: emails
#: before digit runs (an email may contain digits), URLs before both.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"[0-9][0-9 .-]{5,}[0-9]", "<NUM>"),  # phone/account-number shapes
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_redactions, clean_text): PII scrubbing — URLs, emails, and
    long digit/phone shapes replaced with typed placeholder tokens, the
    standard pre-training privacy pass.

    MAP-ONLY: a fixed chain of regexp_replace Column expressions, fully
    inside codegen (no UDF, no shuffle). n_redactions counts matches
    BEFORE scrubbing (per pattern, on the text as the previous patterns
    left it — the same text each replacement actually sees, so the count
    equals the placeholders inserted).
    """
    counts = []
    clean = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(clean, F.lit(pat), 0)))
        clean = F.regexp_replace(clean, pat, repl)
    n_red = counts[0]
    for c in counts[1:]:
        n_red = n_red + c
    return df.select(
        F.col(id_col),
        n_red.cast("bigint").alias("n_redactions"),
        clean.alias("clean_text"),
    )


def bigram_logprob_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_bigrams, nll_micro): corpus-bigram negative log likelihood
    with add-1 smoothing — the next step up from `unigram_logprob_score`
    as a perplexity-style quality filter (catches scrambled/boilerplate
    text the unigram model scores as fluent).

    P(w_i | w_{i-1}) = (c(bigram)+1) / (c_prefix(w_{i-1}) + V), prefix
    counts from the same bigram stream (so probabilities normalize exactly)
    and V = full-stream distinct tokens. Per-bigram values round to integer
    MICRO-nats before summing — order-independent, engine-exact.

    Scale design — this operator deliberately exercises the path the
    unigram filter avoids: the bigram table grows ~quadratically with
    vocabulary and is NOT broadcastable at 100 TB, so doc-bigrams join it
    with a plain hash shuffle on the bigram key (AQE skew-split handles
    hot bigrams). The prefix-count table is vocab-sized — also unbounded —
    so it too joins without a broadcast hint (AQE broadcasts adaptively
    when it fits). Only the 1-row V scalar keeps an explicit broadcast.
    Three map-side-combined aggregations + two shuffle-or-adaptive joins —
    the minimum for a bigram LM without approximation.
    """
    w = df.select(F.col(id_col).alias("doc"), split_words(text_col).alias("__w"))
    pairs = windows(
        F.size("__w"),
        2,
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(F.col("__w"), i, 2)).alias("bigram"),
            F.element_at(F.col("__w"), i).alias("prev"),
        ),
        "struct<bigram:string,prev:string>",
    )
    bg = w.select("doc", F.inline(pairs))

    # cb feeds BOTH the prefix derivation and the scored join: checkpoint
    # it (the file convention for multi-branch reuse). The prefix counts
    # derive from cb — every bigram occurrence contributes 1 to its
    # prefix's count, and tokens are whitespace-split so the prefix is
    # exactly the text before the bigram's single space — which removes
    # one of three full-corpus-stream shuffles. The bigram explode itself
    # still runs twice (cb + the scored join side); that recompute is a
    # map-only stage, cheaper at scale than materializing the raw bigram
    # STREAM (~2x corpus size) to executor disk.
    cb = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("nb"))
        .localCheckpoint(eager=False)
    )
    cu = (
        cb.groupBy(F.substring_index("bigram", " ", 1).alias("prev"))
        .agg(F.sum("nb").alias("np"))
    )
    vocab = (
        w.select(F.explode("__w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    v_scalar = vocab.agg(F.count(F.lit(1)).alias("v"))

    nll = F.round(
        -F.log(
            (F.col("nb") + 1) / (F.col("np") + F.col("v")).cast("double")
        )
        * 1_000_000
    ).cast("long")
    scored = (
        bg.join(cb, "bigram")  # shuffle hash join: bigram table is corpus-scale
        .join(cu, "prev")  # vocab-sized: no hint, AQE broadcasts iff it fits
        .crossJoin(F.broadcast(v_scalar))
        .select("doc", nll.alias("nll"))
    )
    per_doc = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("nll").alias("nll_micro"),
    )
    ids = df.select(F.col(id_col))
    out = ids.join(per_doc, ids[id_col] == per_doc["doc"], "left")
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.col("nll_micro"), F.lit(0)).alias("nll_micro"),
    )


def corpus_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """(rank, term, tf, df): the top-k corpus vocabulary by term frequency
    — the tokenizer-training / stopword-mining primitive (BPE and unigram
    LM trainers both start from exactly this table).

    One token explode -> (term -> tf, df) aggregation (map-side combined,
    the classic word count), then distributed `orderBy(...).limit(k)` —
    TakeOrderedAndProject, each task keeps its local top k — and only the
    k survivors see a row_number window. At 100 TB the corpus contributes
    one shuffle of partial counts and no stage ever sorts the full vocab
    on one partition (the web-scale vocabulary is billions of terms; an
    unpartitioned rank window over it was the r4 verdict's named
    scale-killer). Ties rank deterministically (tf desc, term asc).
    """
    from pyspark.sql import Window

    tokens = token_stream(df, text_col, F.col(id_col).alias("doc"), name="term")
    per_doc = tokens.groupBy("doc", "term").agg(
        F.count(F.lit(1)).alias("tf_doc")
    )
    freqs = per_doc.groupBy("term").agg(
        F.sum("tf_doc").cast("bigint").alias("tf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    order = [F.col("tf").desc(), F.col("term").asc()]
    # rank AFTER the limit: the window runs on k rows, not the vocab table
    return (
        freqs.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("rank", "term", "tf", "df")
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(doc, term, rank, score_micro): top-k TF-IDF terms per document —
    keyword extraction for corpus curation / topic tagging.

    Plan: one token explode -> (doc, term) tf aggregation; document
    frequencies reduce from THAT frame (vocab-sized, never a second corpus
    scan); N folds in as a global window over the df frame exactly like the
    unigram-NLL total. score = tf * ln(N/df) in integer micro-units so
    ranking ties break identically everywhere; rank ties break (score desc,
    term asc), deterministic.

    The docfreq table is vocab-sized (unbounded in the corpus), so the
    tf⋈docfreq join carries no broadcast hint — AQE broadcasts it only
    when it actually fits; otherwise it hash-shuffles on the term key.
    Only the 1-row N scalar keeps an explicit broadcast.
    """
    from pyspark.sql import Window

    tokens = token_stream(df, text_col, F.col(id_col).alias("doc"), name="term")
    # tf feeds three branches (docfreq, N, the scored join) — materialize it
    # once so the corpus is tokenized exactly one time
    tf = (
        tokens.groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_frame = tf.select("doc").distinct().agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(docfreq, "term")  # vocab-sized: no hint, AQE decides
        .crossJoin(F.broadcast(n_frame))
        .select(
            "doc",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df")) * 1_000_000
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc", "term", "rank", "score_micro")
    )


BPE_MERGES = 8  # rounds in the gated query; oracle unrolls the same count


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
) -> DataFrame:
    """(rank, lhs, rhs, pair_freq): the first `n_merges` BPE merge rules
    learned from the corpus — the tokenizer-training primitive (Sennrich et
    al. 2016). Each round merges the most frequent adjacent symbol pair
    (ties: freq desc, lhs asc, rhs asc — deterministic) greedily
    left-to-right within every word.

    Scale design — the corpus is scanned ONCE, into the word-frequency
    table (vocab-sized, the classic word count); all `n_merges` rounds run
    against that materialized frame, so per-round cost is a vocab-sized
    pair-count shuffle plus a 1-row argmax collect (the k-means Lloyd-loop
    pattern: bounded driver state per iteration, never corpus-sized).

    The segmentation is a STRING, not an array: symbols double-space
    delimited with double-space padding ('  h  e  l  l  o  '). Merging pair
    (L, R) is then exactly `replace(seg, ' L  R ', ' LR ')` — the
    single-space anchors make partial-symbol matches impossible, each match
    consumes one space from each flanking gap so adjacent occurrences
    still match, and both Spark's and DuckDB's replace() scan left-to-right
    non-overlapping, which IS greedy BPE application. That shared operator
    is what lets the oracle replay training as plain unrolled SQL
    (__spark_entry__ bpe oracle; prototype-verified identical on both
    engines). Everything stays JVM-side codegen — no UDF in any round.
    """
    merges, _seg_frame = _bpe_train(df, text_col, n_merges)
    return driver_gate.local_frame(
        df.sparkSession,
        merges,
        "rank int not null, lhs string not null, rhs string not null,"
        " pair_freq bigint not null",
    )


#: vocab rows the driver trainer will hold (`driver_gate.collect_if_fits`);
#: above this the per-round distributed loop takes over
BPE_DRIVER_MAX_VOCAB = 2_000_000


def _bpe_train_driver(vocab, n_merges):
    """Pure-Python replica of the per-round merge selection over a
    driver-resident (word, seg, freq) vocab table. Semantics are bit-identical
    to the distributed loop (and therefore to the unrolled SQL oracle):
    symbols parse as the non-empty '  '-splits, pair counts weight by word
    freq, best pair orders by (freq DESC, lhs ASC, rhs ASC) — Python's
    code-point string order equals Spark's UTF8 binary order because UTF-8
    preserves code-point order — and the merge applies as the same
    left-to-right non-overlapping `' L  R ' -> ' LR '` replace."""
    segs = list(zip(*vocab.to_pydict().values()))  # (word, seg, freq) rows
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _w, seg, freq in segs:
            syms = [s for s in seg.split("  ") if s != ""]
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + freq
        if not counts:
            break  # corpus exhausted: every word is a single symbol
        (lhs, rhs), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, int(freq)))
        old, new = f" {lhs}  {rhs} ", f" {lhs}{rhs} "
        segs = [(w, s.replace(old, new), f) for w, s, f in segs]
    return merges, segs


def _bpe_train(df, text_col, n_merges):
    """(merges, seg_frame): the shared trainer. `seg_frame()` builds the
    final segmentation frame, (word, seg, freq), that encoders join words
    back to for their final symbol decomposition. It is built on call, so
    `bpe_learn_merges`, which needs only the merges, never ships the
    vocab-sized driver segmentation back into the JVM.

    Two physical paths, same result, chosen by the shared
    `driver_gate.collect_if_fits` against `BPE_DRIVER_MAX_VOCAB`:

    * vocab fits the driver (the NORMAL case — BPE training state is
      vocab-sized, not corpus-sized, and real tokenizer trainers hold it
      in one process): the gate collects the whole vocab once, then every
      merge round runs in-process — no per-round Spark job, checkpoint,
      or plan compile.
      The n_merges sequential rounds each cost a job-scheduling round
      trip in the distributed loop (~0.25 s x 8 rounds measured at
      sf0.1, all driver-coordination overhead on a vocab of thousands).
    * larger vocab: the original per-round distributed loop — a
      vocab-sized pair-count shuffle plus a 1-row argmax collect per
      round, bounded driver state.
    """
    words = (
        token_stream(df, text_col, name="word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.concat(
                F.lit("  "), F.regexp_replace(F.col("word"), "(.)", "$1  ")
            ).alias("seg"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )

    vocab = driver_gate.collect_if_fits(words, BPE_DRIVER_MAX_VOCAB)
    if vocab is not None:
        merges, segs = _bpe_train_driver(vocab, n_merges)
        schema = "word string not null, seg string not null, freq bigint not null"
        return merges, lambda: driver_gate.local_frame(df.sparkSession, segs, schema)

    merges: list[tuple[int, str, str, int]] = []
    seg_frame = words
    for rank in range(1, n_merges + 1):
        syms = F.filter(F.split(F.col("seg"), "  "), lambda x: x != "")
        best = (
            seg_frame.select(F.inline(_adjacent_pairs(syms)), "freq")
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
            .orderBy(
                F.col("pair_freq").desc(),
                F.col("lhs").asc(),
                F.col("rhs").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break  # corpus exhausted: every word is a single symbol
        lhs, rhs, freq = best[0].lhs, best[0].rhs, best[0].pair_freq
        merges.append((rank, lhs, rhs, int(freq)))
        seg_frame = seg_frame.select(
            "word",
            F.replace(
                F.col("seg"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ).alias("seg"),
            "freq",
        ).localCheckpoint(eager=False)  # flat lineage: k rounds, k frames
    return merges, lambda: seg_frame


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): per-document token counts under the
    learned BPE vocabulary — the encode half of the trainer (the budget
    signal packing/chunking pipelines need: how many pieces a tokenizer
    with these merges produces).

    Applying merges per document would replay k replaces over the corpus;
    instead the final segmentation frame (word -> symbols, vocab-sized)
    joins back to the corpus token stream — one extra corpus tokenization
    pass and a vocab-sized join (no hint: AQE broadcasts while it fits),
    then a map-side-combined per-doc sum. Docs with no tokens keep 0s via
    the left join.
    """
    _merges, seg_frame = _bpe_train(df, text_col, n_merges)
    n_syms = F.size(F.filter(F.split(F.col("seg"), "  "), lambda x: x != ""))
    word_sizes = seg_frame().select("word", n_syms.alias("n_syms"))
    tokens = token_stream(df, text_col, F.col(id_col).alias("doc"), name="word")
    per_doc = (
        tokens.join(word_sizes, "word")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    ids = df.select(F.col(id_col))
    return ids.join(per_doc, ids[id_col] == per_doc["doc"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_words"), F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def bpe_oracle_sql(n_merges: int = BPE_MERGES, table: str = "documents") -> str:
    """DuckDB oracle replaying `bpe_learn_merges` as unrolled CTE rounds
    (the k-means-oracle pattern: training replayed in pure SQL from the
    same shared constants)."""
    ctes = [
        f"""words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
            FROM {table})
      WHERE word != '' GROUP BY word
    )""",
        r"""seg0 AS (
      SELECT word, '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS seg,
             freq
      FROM words
    )""",
    ]
    selects = []
    for k in range(n_merges):
        ctes.append(
            f"""pairs{k} AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
             CAST(sum(freq) AS BIGINT) AS pair_freq
      FROM (SELECT list_filter(string_split(seg, '  '), x -> x != '') AS syms,
                   freq
            FROM seg{k}) t,
           unnest(range(1, greatest(len(t.syms), 1))) AS u(i)
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""best{k} AS (
      SELECT lhs, rhs, pair_freq FROM pairs{k}
      ORDER BY pair_freq DESC, lhs ASC, rhs ASC LIMIT 1
    )"""
        )
        ctes.append(
            f"""seg{k + 1} AS (
      SELECT word, replace(seg, ' ' || lhs || '  ' || rhs || ' ',
                           ' ' || lhs || rhs || ' ') AS seg, freq
      FROM seg{k} CROSS JOIN best{k}
    )"""
        )
        selects.append(
            f"SELECT {k + 1} AS rank, lhs, rhs, pair_freq FROM best{k}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
    )


def bpe_encode_oracle_sql(
    n_merges: int = BPE_MERGES, table: str = "documents"
) -> str:
    """Encode-side oracle: replay training (same CTE chain), then join the
    final word->symbol-count map back to the corpus token stream."""
    train = bpe_oracle_sql(n_merges, table)
    ctes = train.split("\nUNION ALL\n")[0].rsplit("\nSELECT 1 AS rank", 1)[0]
    return f"""{ctes},
    word_sizes AS (
      SELECT word,
             CAST(len(list_filter(string_split(seg, '  '), x -> x != ''))
                  AS BIGINT) AS n_syms
      FROM seg{n_merges}
    ),
    toks AS (
      SELECT doc_id AS doc,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM {table}
    ),
    per_doc AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
      FROM toks JOIN word_sizes USING (word)
      WHERE word != '' GROUP BY doc
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM {table} d LEFT JOIN per_doc p ON p.doc = d.doc_id"""


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """(lhs, rhs, n_pair, pmi_micro, rank): top-k adjacent-bigram
    collocations by pointwise mutual information — phrase/collocation
    mining (the word2vec-style phrase pass; Mikolov et al. 2013 use the
    same count ratio).

    PMI = ln(c(a,b) * N / (c(a) * c(b))) over ADJACENT pairs only, so the
    pair explode is linear in corpus tokens (a windowed variant only
    changes the transform width). Three vocab-or-smaller aggregations —
    pair counts, unigram counts from the same token stream, and the 1-row
    total folded in as a broadcast scalar; the unigram⋈pair joins carry no
    hints (vocab-sized — AQE decides). The score is one double expression
    over exact bigint counts rounded to integer MICRO-nats, so ranking ties
    break identically in any engine (ties: pmi desc, lhs asc, rhs asc).
    The top-k is an orderBy+limit = TakeOrdered — no global sort
    materialization at any scale.
    """
    uni = (
        token_stream(df, text_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    total = uni.agg(F.sum("c").cast("bigint").alias("n_total"))
    pair = (
        df.select(split_words(text_col).alias("__w"))
        .select(F.inline(_adjacent_pairs(F.col("__w"))))
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    ua = uni.select(F.col("tok").alias("lhs"), F.col("c").alias("c_lhs"))
    ub = uni.select(F.col("tok").alias("rhs"), F.col("c").alias("c_rhs"))
    # each factor is cast to double BEFORE multiplying: a web-scale corpus
    # (~1e13 tokens) puts c('the')*c('of') ~ 1e23 past int64 and n_pair *
    # n_total overflows for any pair with n_pair > ~9e5 — bigint multiply
    # would wrap negative for exactly the most frequent collocations. IEEE
    # double products are deterministic, so the DuckDB oracle (same form)
    # still matches bit-for-bit; counts < 2^53 stay exact.
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("n_total").cast("double"))
            / (F.col("c_lhs").cast("double") * F.col("c_rhs").cast("double"))
        )
        * 1_000_000
    ).cast("long")
    scored = (
        pair.join(ua, "lhs")
        .join(ub, "rhs")
        .crossJoin(F.broadcast(total))
        .select("lhs", "rhs", "n_pair", pmi.alias("pmi_micro"))
    )
    from pyspark.sql import Window

    order = [F.col("pmi_micro").desc(), F.col("lhs").asc(), F.col("rhs").asc()]
    # rank AFTER the limit: the window runs on k rows, not the pair table
    return (
        scored.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def token_freq_spectrum(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(tf, n_terms): the corpus frequency-of-frequencies spectrum — how
    many distinct terms occur exactly `tf` times. This is the Zipf-fit /
    Good-Turing smoothing input and the fastest corpus-health check there
    is (a scrape gone wrong shows up as a spike of identical-frequency
    boilerplate terms long before any per-document filter fires).

    Two map-side-combined shuffles, each strictly shrinking: corpus ->
    vocab (the word count), vocab -> distinct frequencies (thousands of
    rows for ANY corpus — frequency values, not terms). Nothing sorts and
    nothing sees the full vocabulary on one task.
    """
    freqs = token_stream(df, text_col, name="term").groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    return freqs.groupBy("tf").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )


def sparse_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    ngram: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, cos): all document pairs with tf-vector cosine >=
    threshold — the WEIGHTED counterpart of the set-Jaccard join (repeated
    terms count), computed postings-style (Bayardo et al.'s all-pairs
    shape): candidates must SHARE a surviving term, never all-pairs.

    Exactness: dot products and squared norms are pure BIGINT sums of
    term-frequency products; the only float math is one sqrt-product-
    divide-round chain per emitted pair, deterministic on any engine.
    Both dots and norms live in the SAME df-pruned term space (df >= 2,
    df <= max_df), so `cos` is the true cosine of the surviving-term
    vectors — the standard stopword-removal semantics.

    Scale levers, in plan order:

    * per-doc (doc, term, tf) is one map-side-combined groupBy;
    * the df-prune drops terms with df > max_df BEFORE the postings
      self-join — stopword postings are the quadratic term (a term in
      half the corpus contributes |corpus|^2/4 candidate pairs; dropping
      it bounds each posting list), the same frequency cutoff every
      production all-pairs system applies — and df < 2 terms can't form
      a pair at all;
    * the self-join shuffles on term (posting lists co-locate), and the
      pair aggregation shuffles once on (doc_a, doc_b).
    """
    doc = F.col(id_col).alias("doc")
    if ngram <= 1:
        # blank docs: no phantom '' term (two blank docs would otherwise
        # cos-match at 1.0 on it)
        tokens = token_stream(df, text_col, doc, name="term")
    else:
        # all k-grams WITH multiplicity (tf weighting needs repeats, so
        # no array_distinct here unlike shingles_from_words)
        tokens = df.select(doc, split_words(text_col).alias("__w")).select(
            "doc", F.explode(word_grams(F.col("__w"), ngram)).alias("term")
        )
    tf = tokens.groupBy("doc", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    tf = tf.localCheckpoint(eager=False)  # feeds df-prune + postings
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = dfreq.filter(F.col("df") >= 2)
    if max_df is not None:
        keep = keep.filter(F.col("df") <= max_df)
    postings = tf.join(keep.select("term"), "term")
    postings = postings.localCheckpoint(eager=False)  # norms + both sides
    # norms over the SAME pruned term space as the dot products: norms over
    # the full tf vector with dots over surviving terms is not the cosine
    # of any consistent vector pair — a pair sharing a capped boilerplate
    # term would have that term in both norms but not the dot,
    # underestimating cos and silently dropping true near-dups. (df < 2
    # terms can't form a pair, so excluding them from norms likewise keeps
    # the two sides consistent.)
    norms = postings.groupBy("doc").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    # Carry the norm THROUGH the term join instead of joining it back onto
    # the PAIR frame afterwards: the pair frame (every co-occurring pair
    # before the threshold filter) dwarfs the postings frame, so two
    # doc-keyed joins on it were the plan's most expensive exchanges (the
    # measured ~x1.3 cost of the r10 pruned-norm correctness fix). One
    # doc-keyed join on postings + 8 bytes per posting row through the
    # term shuffle replaces both; first() in the pair agg is exact (n2 is
    # constant per doc). The norms groupBy and this join shuffle postings
    # by the same key, so ReuseExchange dedups the exchange.
    # Materialize the norm-carrying postings once (r12): both self-join
    # legs reference `posted`, and without a barrier the norms aggregation
    # + doc-join compile and execute once PER LEG (the r11 plan shows the
    # duplicated HashAggregate/Exchange under each side). 8 stored bytes
    # per posting row remove one postings-wide exchange, aggregation and
    # join from every execution.
    posted = postings.join(norms, "doc").localCheckpoint(eager=False)
    a = posted.select(
        F.col("doc").alias("doc_a"), "term",
        F.col("tf").alias("tfa"), F.col("n2").alias("na2"),
    )
    b = posted.select(
        F.col("doc").alias("doc_b"), "term",
        F.col("tf").alias("tfb"), F.col("n2").alias("nb2"),
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("tfa") * F.col("tfb")).cast("bigint").alias("dot"),
            F.first("na2").alias("na2"),
            F.first("nb2").alias("nb2"),
        )
    )
    cos = F.round(
        F.col("dot")
        / (
            F.sqrt(F.col("na2").cast("double"))
            * F.sqrt(F.col("nb2").cast("double"))
        ),
        6,
    )
    return dots.select("doc_a", "doc_b", cos.alias("cos")).filter(
        F.col("cos") >= threshold
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, n_chars, distinct_chars, entropy_micro): Shannon entropy of
    each document's character distribution, in integer MICRO-bits — the
    classic gibberish/boilerplate screen (near-zero entropy = repeated
    filler; implausibly high = binary junk or key dumps) that complements
    the token-level `quality_score`.

    Engine-exactness discipline = `unigram_logprob_score`: each character
    class contributes round(-p*log2(p)*1e6) as an INTEGER before the
    per-doc sum, so accumulation is order-independent and any engine
    computing the same per-class terms matches bit-for-bit. The rounding
    is HALF-UP on a positive value (floor(x+0.5)), DuckDB's round().

    MAP-ONLY (Arrow batches, one Counter per doc): no explode, no shuffle
    at any corpus size — the JVM alternative (explode chars -> two
    groupBys) would shuffle n_chars rows per document. Docs with NULL or
    empty text emit nothing (mirror the oracle's length(text) > 0 guard).
    """
    import math
    from collections import Counter

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"doc {id_type}, n_chars bigint, distinct_chars int,"
        " entropy_micro bigint"
    )

    def score(batches):
        for pdf in batches:
            docs, n_chars, n_distinct, ent = [], [], [], []
            for doc, s in zip(pdf["__id"].to_numpy(), pdf["__t"].to_numpy()):
                if s is None or len(s) == 0:
                    continue
                counts = Counter(s)
                t = float(len(s))
                micro = 0
                for n in counts.values():  # integer terms: order-free
                    p = n / t
                    micro += math.floor(-p * math.log2(p) * 1e6 + 0.5)
                docs.append(doc)
                n_chars.append(len(s))
                n_distinct.append(len(counts))
                ent.append(micro)
            if docs:
                yield pd.DataFrame(
                    {
                        "doc": docs,
                        "n_chars": n_chars,
                        "distinct_chars": n_distinct,
                        "entropy_micro": ent,
                    }
                )

    return df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).mapInPandas(score, out_schema)


def source_kl_divergence(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_tokens, n_terms, kl_micro): KL divergence of each
    source's unigram token distribution from the whole-corpus distribution,
    in integer micro-nats — the domain-drift / mixture-health monitor a
    curation pipeline watches per ingest source (a source whose KL jumps
    changed its content mix; near-zero KL marks redundant sources).

    D_KL(P_s || P_c) = sum_tok p_s * ln(p_s / p_c), summed from per-token
    INTEGER micro-nat terms (the `unigram_logprob_score` discipline:
    rounding each term first makes the sum order-free and engine-exact;
    terms can be negative, and round() is half-away-from-zero on both
    engines). p_c > 0 wherever p_s > 0 by construction (the corpus
    contains every source), so no smoothing is needed.

    Plan: one corpus-sized token explode feeding TWO map-side-combined
    aggregations — (source, tok) counts and corpus tok counts — then
    vocab-sized joins. The tok join carries NO broadcast hint (vocab is
    unbounded at 100 TB; AQE broadcasts iff it fits), the per-source
    totals and the corpus scalar broadcast explicitly (bounded by source
    count / 1 row).
    """
    tokens = token_stream(df, text_col, F.col(source_col).alias("source"))
    # (source, tok) counts feed EVERYTHING else: the corpus counts are the
    # sum over sources, so ct/ctot/stot all derive from the vocab-sized st
    # instead of re-running the corpus-sized explode per branch (three
    # differently-keyed aggregations over `tokens` = three scan+explode
    # executions; ReuseExchange only dedups identical exchanges). st is
    # localCheckpointed because it still feeds three branches itself.
    st = (
        tokens.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("ns"))
        .localCheckpoint(eager=False)
    )
    stot = st.groupBy("source").agg(F.sum("ns").alias("s_tot"))
    ct = st.groupBy("tok").agg(F.sum("ns").alias("ct"))
    ctot = ct.agg(F.sum("ct").cast("double").alias("c_tot"))
    ps = F.col("ns") / F.col("s_tot").cast("double")
    pc = F.col("ct") / F.col("c_tot")
    term = F.round(ps * F.log(ps / pc) * 1_000_000).cast("long")
    scored = (
        st.join(ct, "tok")  # vocab-sized: no hint, AQE decides
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
        .select("source", F.col("ns"), term.alias("kl_term"))
    )
    return scored.groupBy("source").agg(
        F.sum("ns").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("kl_term").cast("bigint").alias("kl_micro"),
    )


def trigram_backoff_score(
    df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """(doc_id, n_trigrams, nll_micro, n_tri, n_bi, n_uni): trigram
    language-model score with STUPID BACKOFF (Brants et al., EMNLP'07 —
    the web-scale LM scoring rule: no discounting, a fixed alpha per
    backoff level), trained on `train_df` (a corpus snapshot) and scoring
    every row of `df`. The held-out quality filter the unigram/bigram
    scorers approximate from inside the corpus:

        S(w3 | w1 w2) = c3(w1 w2 w3) / c2(w1 w2)          if trigram seen
                      = alpha * c2(w2 w3) / c1(w2)         elif bigram seen
                      = alpha^2 * (c1(w3)+1) / (N+V)       else (add-1 floor)

    Per-position terms round to integer MICRO-nats before the per-doc sum
    (order-free, engine-exact — the `unigram_logprob_score` discipline);
    the path counters (n_tri/n_bi/n_uni) expose how often each CASE arm
    fired, so the oracle verifies the backoff logic itself, not just sums.

    Scale design: four count tables from ONE train-side token explode
    (trigrams, bigrams, unigrams — all map-side-combined) joined onto the
    score stream WITHOUT broadcast hints: every LM table is unbounded in
    the corpus (the trigram table especially — it's why stupid backoff
    exists), so AQE picks broadcast vs shuffle per actual size; only the
    1-row (N, V) scalar frame broadcasts explicitly. Spark sees 5
    vocab-keyed joins — the honest shape of an n-gram LM without
    approximation; hot grams are AQE skew-split.
    """
    a2 = alpha * alpha

    # -- train-side count tables (one explode, three aggregations) --------
    # tw feeds THREE gram explodes, and c1/c2 are each joined twice below:
    # without barriers the plan re-ran lower+trim+split over the train
    # corpus for every branch (16 parquet scans measured at sf0.1). tw is
    # materialized once (one tokenize pass — the byte cost is the words
    # array, ~ the text itself), and the vocab-sized c1/c2 once each.
    tw = train_df.select(split_words(text_col).alias("__w")).localCheckpoint(
        eager=False
    )
    toks = tw.select(F.explode("__w").alias("tok"))
    c1 = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n1")
    ).localCheckpoint(eager=False)
    nv = c1.agg(
        F.sum("n1").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    c2 = (
        tw.select(F.explode(word_grams(F.col("__w"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n2"))
        .localCheckpoint(eager=False)  # joined twice (ctx + bi legs)
    )
    c3 = (
        tw.select(F.explode(word_grams(F.col("__w"), 3)).alias("tg"))
        .groupBy("tg")
        .agg(F.count(F.lit(1)).alias("n3"))
    )

    # -- score stream ------------------------------------------------------
    w = df.select(
        F.col(id_col).alias("doc"), split_words(text_col).alias("__w")
    )
    tri = windows(
        F.size("__w"),
        3,
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(F.col("__w"), i, 3)).alias("tri"),
            F.concat_ws(" ", F.slice(F.col("__w"), i, 2)).alias("ctx"),
            F.concat_ws(" ", F.slice(F.col("__w"), i + 1, 2)).alias("bi"),
            F.element_at(F.col("__w"), i + 1).alias("mid"),
            F.element_at(F.col("__w"), i + 2).alias("last"),
        ),
        "struct<tri:string,ctx:string,bi:string,mid:string,last:string>",
    )
    sg = w.select("doc", F.inline(tri))
    joined = (
        sg.join(c3.withColumnRenamed("tg", "tri"), "tri", "left")
        .join(
            c2.select(F.col("bg").alias("ctx"), F.col("n2").alias("nctx")),
            "ctx",
            "left",
        )
        .join(
            c2.select(F.col("bg").alias("bi"), F.col("n2").alias("nbi")),
            "bi",
            "left",
        )
        .join(
            c1.select(F.col("tok").alias("mid"), F.col("n1").alias("nmid")),
            "mid",
            "left",
        )
        .join(
            c1.select(F.col("tok").alias("last"), F.col("n1").alias("nlast")),
            "last",
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    s = (
        F.when(
            F.col("n3").isNotNull(),
            F.col("n3") / F.col("nctx").cast("double"),
        )
        .when(
            F.col("nbi").isNotNull(),
            F.lit(alpha) * (F.col("nbi") / F.col("nmid").cast("double")),
        )
        .otherwise(
            F.lit(a2)
            * (
                (F.coalesce(F.col("nlast"), F.lit(0)) + F.lit(1.0))
                / (F.col("n_total") + F.col("v"))
            )
        )
    )
    path = (
        F.when(F.col("n3").isNotNull(), F.lit(3))
        .when(F.col("nbi").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
    )
    scored = joined.select(
        "doc",
        F.round(-F.log(s) * 1_000_000).cast("long").alias("nll"),
        path.alias("path"),
    )
    per_doc = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("nll").alias("nll_micro"),
        F.sum((F.col("path") == 3).cast("long")).alias("n_tri"),
        F.sum((F.col("path") == 2).cast("long")).alias("n_bi"),
        F.sum((F.col("path") == 1).cast("long")).alias("n_uni"),
    )
    ids = df.select(F.col(id_col))
    out = ids.join(per_doc, ids[id_col] == per_doc["doc"], "left")
    z = F.lit(0).cast("bigint")
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_trigrams"), z).alias("n_trigrams"),
        F.coalesce(F.col("nll_micro"), z).alias("nll_micro"),
        F.coalesce(F.col("n_tri"), z).alias("n_tri"),
        F.coalesce(F.col("n_bi"), z).alias("n_bi"),
        F.coalesce(F.col("n_uni"), z).alias("n_uni"),
    )


# --- round-8 curation operators ---------------------------------------------


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len_milli: int = 3_000,
    max_mean_len_milli: int = 10_000,
    min_stop_hits: int = 2,
    min_alpha_micro: int = 800_000,
) -> DataFrame:
    """(doc, n_words, mean_word_len_milli, n_stop_distinct,
    alpha_ratio_micro, passes): the Gopher-style rule-based quality screen
    (word-count window, mean word length 3-10 chars, >=2 distinct English
    stopwords, >=80% of words containing a letter) — the standard cheap
    pre-filter a curation pipeline runs before any model-based scoring.

    Map-only over materialized word arrays; every emitted number is either
    an exact integer count or an integer-milli/-micro rounding of a ratio
    of exact integers, so any engine reproduces it bit-for-bit. At 100 TB
    this is one corpus scan with zero shuffles.
    """
    w = df.select(
        F.col(id_col).alias("doc"), _nonblank_words(text_col).alias("__words")
    )
    n_words = F.size(F.col("__words")).cast("bigint")
    sum_chars = F.aggregate(
        F.transform(F.col("__words"), F.length),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_milli = F.when(n_words == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(sum_chars * 1000.0 / n_words, 0).cast("bigint")
    )
    n_stop = F.size(
        F.array_intersect(F.col("__words"), F.array(*[F.lit(s) for s in STOPWORDS_EN]))
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(F.col("__words"), lambda x: x.rlike("[a-z]"))
    ).cast("bigint")
    alpha_micro = F.when(n_words == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(n_alpha * 1000000.0 / n_words, 0).cast("bigint")
    )
    scored = w.select(
        "doc",
        n_words.alias("n_words"),
        mean_milli.alias("mean_word_len_milli"),
        n_stop.alias("n_stop_distinct"),
        alpha_micro.alias("alpha_ratio_micro"),
    )
    passes = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len_milli").between(
            min_mean_len_milli, max_mean_len_milli
        )
        & (F.col("n_stop_distinct") >= min_stop_hits)
        & (F.col("alpha_ratio_micro") >= min_alpha_micro)
    )
    return scored.withColumn("passes", passes.cast("int"))


def type_token_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, n_tokens, n_types, ttr_micro): lexical diversity — distinct
    words over total words. Low TTR flags keyword-stuffed / template /
    repetitive documents that length and stopword screens miss. Map-only,
    integer-micro exact."""
    w = df.select(
        F.col(id_col).alias("doc"), _nonblank_words(text_col).alias("__words")
    )
    n_tokens = F.size(F.col("__words")).cast("bigint")
    n_types = F.size(F.array_distinct(F.col("__words"))).cast("bigint")
    ttr = F.when(n_tokens == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(n_types * 1000000.0 / n_tokens, 0).cast("bigint")
    )
    return w.select(
        "doc",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        ttr.alias("ttr_micro"),
    )


def tokenizer_fertility(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_words, n_bpe_tokens, fertility_micro): sub-word tokens
    per whitespace word, per source — the tokenizer-efficiency audit run
    before fixing a data mixture (high fertility = a source the tokenizer
    fragments, costing context length). One map-side-combined groupBy over
    |sources| keys; exact integer sums, micro-rounded ratio."""
    agg = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(token_count(text_col)).cast("bigint").alias("n_words"),
        F.sum(bpe_token_count(text_col)).cast("bigint").alias("n_bpe_tokens"),
    )
    fert = F.when(F.col("n_words") == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(F.col("n_bpe_tokens") * 1000000.0 / F.col("n_words"), 0)
        .cast("bigint")
    )
    return agg.select(
        "source", "n_words", "n_bpe_tokens", fert.alias("fertility_micro")
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(doc, n_shingles, n_novel, novelty_micro): the fraction of a doc's
    distinct word-k-grams appearing NOWHERE else in the corpus (df == 1) —
    high novelty separates original content from boilerplate recombination;
    near-zero novelty marks template/mirror pages worth deprioritizing.

    Plan: one corpus explode into the df aggregation (map-side combined),
    then the co-partitioned join back (reuses the shingle exchange) and a
    per-doc aggregation — two bounded shuffles, no self-join, no quadratic
    term anywhere (df counting touches each posting once). Docs shorter
    than k words have no shingles and are absent, mirroring the oracle.
    """
    from radar_output_restructure_spark.operators.dedup_scale import (
        _exploded_shingles,
    )

    ex = _exploded_shingles(df, text_col, id_col, k)
    ex = ex.localCheckpoint(eager=False)  # feeds df-count + per-doc branches
    dfs = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        ex.join(dfs, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") * 1000000.0 / F.col("n_shingles"), 0)
            .cast("bigint")
            .alias("novelty_micro"),
        )
    )
