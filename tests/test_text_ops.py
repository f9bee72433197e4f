"""Unit tests for text-analysis / sketch-dedup / similarity operators."""

from __future__ import annotations

import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import text as X
from radar_output_restructure_spark.operators.dedup_scale import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_wide,
    shingles,
    simhash,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [Row(t="hello world  foo"), Row(t=""), Row(t="   "), Row(t="one")]
    )
    out = df.select(X.token_count("t").alias("n"), X.bpe_token_count("t").alias("b")).collect()
    assert [r.n for r in out] == [3, 0, 0, 1]
    assert out[0].b == 3


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog is here"),
            Row(t="der hund und die katze ist nicht da"),
            Row(t="le chat est dans la maison les jours"),
            Row(t="zzz qqq xxx"),
        ]
    )
    out = [r[0] for r in df.select(X.lang_id("t")).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),
            Row(doc_id=2, text="a b c d x"),  # shares 2 of 3 trigrams? a b c / b c d
            Row(doc_id=3, text="q w"),  # too short for trigrams
        ]
    )
    sh = df.select("doc_id", shingles("text").alias("s")).collect()
    by_id = {r.doc_id: r.s for r in sh}
    assert by_id[1] == ["a b c", "b c d", "c d e"]
    assert by_id[3] == []
    pairs = jaccard_pairs(df, threshold=0.1).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # docs 1,2: common {a b c, b c d} = 2, union 4 -> 0.5
    assert (p.doc_a, p.doc_b, p.jaccard) == (1, 2, 0.5)


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="same"), Row(doc_id=2, text="same"), Row(doc_id=3, text="diff")]
    )
    out = {r.canonical_id: r.n_copies for r in exact_dedup_groups(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_share_all_bands(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=3, text="totally different words here now ok"),
        ]
    )
    sigs = minhash_wide(df, num_hashes=4)
    assert sigs.count() == 3 and len(sigs.columns) == 5  # doc + m0..m3
    assert minhash_signatures(df, num_hashes=4).count() == 12
    pairs = lsh_candidate_pairs(sigs, num_hashes=4, rows_per_band=2).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
            Row(doc_id=3, text="completely unrelated legal boilerplate text follows"),
        ]
    )
    fps = {r.doc: r.simhash for r in simhash(df, bits=32).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_simhash_wide_near_dup_pairs(spark):
    """64-bit/16-bit-band geometry: near-identical docs pair up with exact
    pigeonhole recall; the 64-bit hamming agrees with a local recompute."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash_near_dup_pairs_wide,
        simhash_wide,
    )

    # 21 distinct words (odd) x 9 repeats: every bit's vote is an odd
    # multiple of +-9, so one extra token (+-1 per bit) flips nothing and
    # the near-dup lands at a small hamming distance with certainty (few
    # distinct tokens with even counts tie votes at 0, where a single
    # added token would flip ~half the bits).
    words = [f"w{i}" for i in range(21)]
    base = " ".join(w for w in words for _ in range(9))
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " iota"),  # one extra token: near-dup
            Row(doc_id=3, text="totally different content about other topics"),
        ]
    )
    fps = {r.doc: (r.fp_lo, r.fp_hi) for r in simhash_wide(df).collect()}
    assert all(0 <= lo < 2**32 and 0 <= hi < 2**32 for lo, hi in fps.values())
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs_wide(df, max_hamming=3).collect()
    }
    ham = lambda a, b: (  # noqa: E731
        bin(fps[a][0] ^ fps[b][0]).count("1")
        + bin(fps[a][1] ^ fps[b][1]).count("1")
    )
    assert (1, 2) in pairs and pairs[(1, 2)] == ham(1, 2) <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_wide_bucket_df_cap(spark):
    """max_bucket_df drops only buckets hotter than the cap: identical docs
    (occupancy == n_dups per bucket) vanish once the cap is below that."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash_near_dup_pairs_wide,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text="same text every time " * 5) for i in range(6)]
        + [
            Row(doc_id=10, text="rare document alpha beta gamma delta " * 4),
            Row(doc_id=11, text="rare document alpha beta gamma delta " * 4),
        ]
    )
    uncapped = simhash_near_dup_pairs_wide(df).collect()
    assert len(uncapped) == 15 + 1  # C(6,2) identical pairs + the rare pair
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup_pairs_wide(df, max_bucket_df=4).collect()
    }
    assert capped == {(10, 11)}  # hot buckets (occupancy 6) dropped


def test_duplicate_clusters_components(spark):
    from radar_output_restructure_spark.operators.dedup_scale import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 4)], "doc_a long, doc_b long"
    )
    out = {r.doc: r.cluster for r in duplicate_clusters(pairs).collect()}
    # chains collapse to the min id of the component
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 10: 4, 4: 4}


def test_jaccard_stop_shingle_cap(spark):
    """max_shingle_df drops hot shingles before the self-join (skew cap):
    pairs that only share the hot shingle disappear; identical docs stay."""
    from radar_output_restructure_spark.operators.dedup_scale import jaccard_pairs

    hot = "the quick brown"  # appears in every doc -> document frequency 4
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps high"),
            Row(doc_id=2, text="the quick brown fox jumps high"),
            Row(doc_id=3, text="the quick brown cat sleeps now"),
            Row(doc_id=4, text="the quick brown dog barks loud"),
        ]
    )
    uncapped = {(r.doc_a, r.doc_b) for r in jaccard_pairs(df, threshold=0.1).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(df, threshold=0.1, max_shingle_df=3).collect()
    }
    assert (1, 2) in capped           # exact duplicates survive the cap
    assert capped < uncapped          # hot-shingle-only pairs dropped


def test_rolling_window_boundary_inclusive(spark):
    """RANGE frame includes a row exactly window_s old (both ends closed)."""
    import datetime

    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.timeseries import (
        rolling_window_stats,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0, value=1.0),
            Row(user_id=1, ts=t0 + datetime.timedelta(seconds=3600), value=2.0),
            Row(user_id=1, ts=t0 + datetime.timedelta(seconds=3601), value=4.0),
            Row(user_id=2, ts=t0, value=8.0),
        ]
    )
    out = {
        (r.user_id, r.ts): r
        for r in rolling_window_stats(df, keys="user_id").collect()
    }
    exactly_1h = out[(1, t0 + datetime.timedelta(seconds=3600))]
    assert exactly_1h.n_3600s == 2  # the row 3600 s earlier is INCLUDED
    assert exactly_1h.cents_3600s == 300
    just_past = out[(1, t0 + datetime.timedelta(seconds=3601))]
    assert just_past.n_3600s == 2  # t0 row aged out (3601 s)
    assert just_past.cents_3600s == 600
    assert out[(2, t0)].n_3600s == 1  # keys isolated


def test_stratified_sample_stable_under_growth(spark):
    """A document's keep/drop decision never changes when the corpus grows
    (hash-of-id, not RNG or rank)."""
    from radar_output_restructure_spark.operators.curation import (
        stratified_sample,
    )

    base = spark.range(200).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    )
    grown = spark.range(400).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    )
    rates = {"en": 500, "de": 250}
    kept_base = {r.doc_id for r in stratified_sample(base, rates).collect()}
    kept_grown = {r.doc_id for r in stratified_sample(grown, rates).collect()}
    assert kept_base == {d for d in kept_grown if d < 200}
    # rates roughly honored (hash-uniform; wide tolerance, deterministic)
    n_en = sum(1 for d in kept_grown if d % 2 == 0)
    assert 60 <= n_en <= 140  # 200 en docs at 50%


def test_tfidf_rank_determinism(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple cherry"),
            Row(doc_id=2, text="banana cherry cherry date"),
            Row(doc_id=3, text="apple date date egg"),
        ]
    )
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc, []).append((r.rank, r.term, r.score_micro))
    for doc, rows in by_doc.items():
        ranks = [r[0] for r in sorted(rows)]
        assert ranks == [1, 2]
        scores = [r[2] for r in sorted(rows)]
        assert scores[0] >= scores[1]
    # doc 1: apple appears twice and in 2 docs; unique-ish terms win
    top1 = sorted(by_doc[1])[0]
    assert top1[1] in ("apple", "cherry")


def test_train_ivf_centroids_recovers_clusters(spark):
    """Three well-separated directions; k=3 k-means must land one centroid
    per direction and assign deterministically."""
    from radar_output_restructure_spark.operators.similarity import (
        train_ivf_centroids,
    )

    base = {0: [10.0, 0.0, 0.0, 1.0], 1: [0.0, 10.0, 0.0, 1.0], 2: [0.0, 0.0, 10.0, 1.0]}
    rows = [
        (i, [v + ((i * 7 + d) % 3) * 0.1 for d, v in enumerate(base[i % 3])])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, k=3, iters=5, dims=4)
    got = {r.vec_id: r.embedding for r in cents.collect()}
    assert sorted(got) == [0, 1, 2]
    # each centroid points overwhelmingly along exactly one axis
    axes = sorted(max(range(3), key=lambda d: c[d]) for c in got.values())
    assert axes == [0, 1, 2]
    for c in got.values():
        dominant = max(c[:3])
        assert dominant > 9.0 and sum(x > 5.0 for x in c[:3]) == 1
        # micro quantization: every coordinate is an exact micro multiple
        for x in c:
            assert abs(x * 1e6 - round(x * 1e6)) < 1e-6


def test_train_ivf_centroids_deterministic(spark):
    from radar_output_restructure_spark.operators.similarity import (
        train_ivf_centroids,
    )

    import math

    rows = [
        (i, [math.sin(i * 13.7 + d) for d in range(8)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, (r.embedding for r in train_ivf_centroids(df, k=4, iters=3).collect())))
    b = sorted(
        map(
            tuple,
            (
                r.embedding
                for r in train_ivf_centroids(
                    df.repartition(7), k=4, iters=3
                ).collect()
            ),
        )
    )
    assert a == b  # bit-identical across partitionings


def test_train_ivf_centroids_empty_cell_keeps_seed(spark):
    """k greater than the number of distinct directions: starved cells must
    keep their seed centroid instead of collapsing to zeros/NaN."""
    from radar_output_restructure_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = [(i, [1.0, 0.0]) for i in range(10)] + [(100, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, k=4, iters=3, dims=2)
    out = cents.collect()
    assert len(out) == 4
    for r in out:
        assert all(x == x for x in r.embedding)  # no NaN
        assert any(abs(x) > 1e-9 for x in r.embedding)  # no zero collapse


def test_auto_num_planes_holds_occupancy():
    from radar_output_restructure_spark.operators.similarity import (
        auto_num_planes,
    )

    assert auto_num_planes(0) == 4
    assert auto_num_planes(64) == 4  # fits one target bucket
    assert auto_num_planes(2_000) == 5  # 2000/64 -> ceil(log2(31.2))
    assert auto_num_planes(20_000) == 9
    assert auto_num_planes(2_000_000) == 15
    # occupancy stays within [target/2, target] as n grows
    for n in (10**4, 10**6, 10**9):
        b = auto_num_planes(n)
        assert 32 <= n / (2**b) <= 64


def test_contamination_scores(spark):
    from radar_output_restructure_spark.operators.curation import (
        contamination_scores,
    )

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),   # = eval doc
            Row(doc_id=2, text="the quick brown cat sits still"),  # partial
            Row(doc_id=3, text="completely unrelated words entirely"),
            Row(doc_id=4, text="tiny"),                        # no trigrams
        ]
    )
    eval_df = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps high")]
    )
    out = {r.doc_id: r for r in contamination_scores(corpus, eval_df).collect()}
    assert out[1].contamination == 1.0          # every trigram leaked
    assert out[1].n_grams == 3 and out[1].n_contaminated == 3
    # doc 2 shares exactly "the quick brown" of its 4 trigrams
    assert out[2].n_contaminated == 1 and out[2].contamination == 0.25
    assert out[3].contamination == 0.0
    assert out[4].n_grams == 0 and out[4].contamination == 0.0


def test_repetition_scores(spark):
    from radar_output_restructure_spark.operators.curation import (
        repetition_scores,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="buy now buy now buy now"),  # bigram loop
            Row(doc_id=2, text="all words here are unique tokens"),
            Row(doc_id=3, text="one"),  # single word -> no bigrams
        ]
    )
    out = {r.doc_id: r for r in repetition_scores(df).collect()}
    # "buy now" appears 3x of 5 bigrams
    assert out[1].n_grams == 5 and out[1].top_gram_count == 3
    assert out[1].repetition == 0.6
    assert out[2].top_gram_count == 1 and out[2].repetition == 0.2
    assert out[3].n_grams == 0 and out[3].repetition == 0.0


def test_sliding_chunks(spark):
    from radar_output_restructure_spark.operators.curation import (
        sliding_chunks,
    )

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [Row(doc_id=1, text=words), Row(doc_id=2, text="a b"),
         Row(doc_id=3, text="solo")]
    )
    out = sliding_chunks(df, window_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # 10 tokens, W=4 S=3 -> ceil(6/3)+1 = 3 chunks, last is full here
    assert [r.chunk_text for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"
    ]
    assert [r.n_tokens for r in c1] == [4, 4, 4]
    # overlap: every token appears in at least one chunk
    seen = set(t for r in c1 for t in r.chunk_text.split())
    assert seen == set(words.split())
    assert [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in by_doc[2]] == [
        (0, 2, "a b")
    ]
    assert by_doc[3][0].chunk_text == "solo"
    # short final window
    out2 = {r.chunk_idx: r for r in
            sliding_chunks(df.filter(F.col("doc_id") == 1),
                           window_tokens=4, stride=4).collect()}
    assert out2[2].n_tokens == 2 and out2[2].chunk_text == "w8 w9"


def test_sliding_chunks_validation(spark):
    import pytest

    from radar_output_restructure_spark.operators.curation import (
        sliding_chunks,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError):
        sliding_chunks(df, window_tokens=0)
    with pytest.raises(ValueError):
        sliding_chunks(df, stride=0)


def test_bigram_logprob_score(spark):
    import math

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),   # predictable: a->b always
            Row(doc_id=2, text="a c"),       # rare continuation
            Row(doc_id=3, text="solo"),      # no bigrams
        ]
    )
    out = {r.doc_id: r for r in X.bigram_logprob_score(df).collect()}
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 1
    assert out[3].n_bigrams == 0 and out[3].nll_micro == 0
    # corpus: bigrams = [a b, b a, a b, a c]; prefixes a:3 b:1; V=4 (a,b,c,solo)
    # P(b|a) = (2+1)/(3+4); per-bigram nll in micro-nats
    nll_ab = round(-math.log(3 / 7) * 1e6)
    nll_ba = round(-math.log((1 + 1) / (1 + 4)) * 1e6)
    nll_ac = round(-math.log((1 + 1) / (3 + 4)) * 1e6)
    assert out[1].nll_micro == 2 * nll_ab + nll_ba
    assert out[2].nll_micro == nll_ab * 0 + nll_ac  # doc2 = just "a c"
    # predictable text scores lower NLL per bigram than the rare one
    assert out[1].nll_micro / 3 < out[2].nll_micro


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jo.doe+x@site-a.org or visit "
                               "https://x.io/a?b=1 call 555-123 4567 ok"),
            Row(doc_id=2, text="clean text no pii at all"),
            Row(doc_id=3, text="two mails a@b.co c@d.org and 123456789"),
        ]
    )
    out = {r.doc_id: r for r in X.redact_pii(df).collect()}
    assert out[1].clean_text == "mail me at <EMAIL> or visit <URL> call <NUM> ok"
    assert out[1].n_redactions == 3
    assert out[2].n_redactions == 0 and out[2].clean_text == out[2].clean_text
    assert out[3].clean_text == "two mails <EMAIL> <EMAIL> and <NUM>"
    assert out[3].n_redactions == 3


def test_auto_num_planes_caps_at_31():
    from radar_output_restructure_spark.operators.similarity import (
        auto_num_planes,
    )

    # bigint bucket assembly is exact up to 31 bits; the cap keeps the
    # advertised 1e12-vector scale (log2 would say 34) from overflowing
    assert auto_num_planes(10**12) == 31
    assert auto_num_planes(2**40) == 31


def test_plane_family_decorrelated():
    """The md5 plane family must not repeat weight vectors (the former
    linear-congruential family was periodic mod 7 — only SEVEN distinct
    hyperplanes at any configured width, silently correlating every table
    and capping bucket diversity)."""
    from radar_output_restructure_spark.operators.similarity import (
        _plane_weight,
    )

    vecs = {
        tuple(_plane_weight(p, d) for d in range(64)) for p in range(40)
    }
    assert len(vecs) == 40
    # weights stay in the documented [-3, 3] band
    assert all(
        -3 <= _plane_weight(p, d) <= 3 for p in range(8) for d in range(8)
    )


def test_round6_spark_matches_spark_round(spark):
    """_round6_spark must reproduce Spark's round(x, 6) bit-for-bit,
    including decimal-boundary cases where the naive floor(|x|*1e6+0.5)
    fast path and BigDecimal HALF_UP disagree."""
    import numpy as np

    from radar_output_restructure_spark.operators.similarity import (
        _round6_spark,
    )

    vals = [
        0.1234565,        # repr boundary: stored double is ...64999999
        -0.1234565,
        0.12345649999999999,
        0.9999995,
        -0.9999995,
        0.0000005,
        1.0, -1.0, 0.0,
        0.123456789,
        -0.987654321,
        0.5e-7,
        1.0000004999999999,
    ] + [((i * 2654435761) % 1000003) / 999983.0 - 0.5 for i in range(50)]
    ours = _round6_spark(np.array(vals, dtype=np.float64))
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    from pyspark.sql import functions as F

    theirs = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    for v, a, b in zip(vals, ours, theirs):
        assert float(a) == float(b), (v, float(a), float(b))


def test_corpus_vocabulary(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.text import corpus_vocabulary

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat"),
            Row(doc_id=2, text="the dog sat"),
            Row(doc_id=3, text="a cat"),
        ]
    )
    out = {r.term: r for r in corpus_vocabulary(docs, k=3).collect()}
    assert out["the"].rank == 1 and out["the"].tf == 3 and out["the"].df == 2
    # tf tie between cat/sat (2 each) ranks alphabetically
    assert out["cat"].rank == 2 and out["cat"].df == 2
    assert out["sat"].rank == 3 and out["sat"].tf == 2
    assert len(out) == 3  # k enforced


def test_quantize_embeddings(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.5, -1.0, 0.25, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),  # zero vector
        ]
    )
    rows = {(r.vec_id, r.dim): r for r in quantize_embeddings(df).collect()}
    assert rows[(1, 1)].q == 64      # 0.5/1.0*127 = 63.5 -> HALF_UP 64
    assert rows[(1, 2)].q == -127
    assert rows[(1, 3)].q == 32      # 31.75 -> 32
    assert rows[(1, 4)].q == 0
    assert rows[(1, 1)].scale == 1.0
    # zero vector: scale coalesces to 1, all codes 0
    assert all(rows[(2, d)].q == 0 for d in range(1, 5))
    assert rows[(2, 1)].scale == 1.0


def test_simhash_near_dup_pairs(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.dedup_scale import (
        simhash,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=3, text="entirely different words about spaceships and plasma"),
        ]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs(docs, bands=8, max_hamming=6).collect()
    }
    fps = {r.doc: r.simhash for r in simhash(docs).collect()}
    ham12 = bin(fps[1] ^ fps[2]).count("1")
    if ham12 <= 6:  # exact recall guaranteed: 8 bands > 6 differing bits
        assert pairs[(1, 2)] == ham12
    # exact-recall pigeonhole guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, bands=4, max_hamming=4)
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, bits=32, bands=5)


def test_round6_spark_property_decimal_halfup():
    """Property: _round6_spark == BigDecimal-style HALF_UP on the shortest
    decimal repr, for arbitrary doubles (the spec Spark's round implements)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from radar_output_restructure_spark.operators.similarity import (
        _round6_spark,
    )

    @settings(max_examples=500, deadline=None)
    @given(
        st.floats(
            min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False
        )
    )
    def check(x):
        expected = float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        got = float(_round6_spark(np.array([x], dtype=np.float64))[0])
        assert got == expected, (x, got, expected)

    check()


def test_winnowing_fingerprints_guarantee(spark):
    """Winnowing guarantee: two docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint; docs shorter than k emit
    none; docs with fewer than w k-grams emit exactly their global min."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    shared = "x" * 0 + "quizzical jackdaws vex"  # >= k + w - 1 chars
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha beta {shared} gamma"),
            Row(doc_id=2, text=f"{shared} omega entirely different tail"),
            Row(doc_id=3, text="short"),          # < k chars
            Row(doc_id=4, text="abcdefghi"),      # k <= len < k + w - 1
        ]
    )
    rows = winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert 3 not in by_doc
    # doc 4: 2 k-grams < w -> single global-min fingerprint
    assert len(by_doc[4]) == 1


def test_fingerprint_overlap_pairs_stop_fp_cap(spark):
    """Boilerplate fingerprints present in more than max_df docs must not
    produce pairs; genuinely shared rare substrings must."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.text import (
        fingerprint_overlap_pairs,
    )

    boiler = "all rights reserved worldwide"
    rare = "the seventeen purple zeppelins landed quietly"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i} body {boiler}") for i in range(10)]
        + [
            Row(doc_id=100, text=f"intro {rare} outro one"),
            Row(doc_id=101, text=f"other {rare} ending two"),
        ]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_common
        for r in fingerprint_overlap_pairs(
            docs, max_df=3, min_common=2
        ).collect()
    }
    assert (100, 101) in pairs
    assert all(a == 100 and b == 101 for (a, b) in pairs)


def test_temperature_mixture_sample_rates(spark):
    """Head bucket keeps ~base rate; tail buckets upsample toward parity;
    rate never exceeds 1.0; the keep decision is a pure function of the id
    (stable under re-partitioning)."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.curation import (
        temperature_mixture_sample,
    )

    rows = [Row(doc_id=i, lang="en") for i in range(400)] + [
        Row(doc_id=10_000 + i, lang="fr") for i in range(100)
    ]
    docs = spark.createDataFrame(rows)
    kept = temperature_mixture_sample(docs, base_rate_per_mille=500)
    by_lang = {
        r.lang: r.n
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # en rate = 0.5 exactly, fr rate = min(1, 0.5*sqrt(4)) = 1.0
    assert by_lang["fr"] == 100, "tail bucket at rate 1.0 keeps everything"
    assert 130 <= by_lang["en"] <= 270, "head bucket keeps ~half"
    # determinism: same ids -> same kept set regardless of partitioning
    kept2 = temperature_mixture_sample(
        docs.repartition(7), base_rate_per_mille=500
    )
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in kept2.collect()
    )


def test_winnowing_matches_pure_python_reference(spark):
    """The Arrow winnowing operator must agree with a direct pure-Python
    transcription of the definition (normalize -> k-gram polynomial hash ->
    window minima -> distinct) over a corpus with accents, punctuation
    runs, whitespace runs, and repeated substrings."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.text import (
        WINNOW_K,
        WINNOW_MOD,
        WINNOW_W,
        winnow_powers,
        winnowing_fingerprints,
    )

    texts = {
        1: "The quick brown fox -- jumps!   over\tthe lazy dog",
        2: "Crème brûlée à la carte, s'il vous plaît",
        3: "aaaaaaaaaaaaaaaaaaaaaaaa",
        4: "ab " * 40,
        5: "punctuation!!! ??? ;;; ::: ... '''",
        6: "Ends exactly at k+w-1 chars",
    }

    def reference(s: str) -> set[int]:
        t = " ".join(s.strip().split()).lower()
        k, w = WINNOW_K, WINNOW_W
        if len(t) < k:
            return set()
        powers = winnow_powers(k)
        hashes = []
        for i in range(len(t) - k + 1):
            h = 0
            for j in range(k):
                h = (h + ord(t[i + j]) * powers[j]) % WINNOW_MOD
            hashes.append(h)
        if len(hashes) <= w:
            return {min(hashes)}
        return {
            min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)
        }

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got: dict[int, set[int]] = {}
    for r in winnowing_fingerprints(docs).collect():
        got.setdefault(r.doc, set()).add(r.fp)
    for i, t in texts.items():
        assert got.get(i, set()) == reference(t), f"doc {i}"


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE (Sennrich et al.): word freqs -> iterative most-
    frequent-adjacent-pair merges, greedy left-to-right application."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                words[w] += 1
    segs = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, f in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        (lhs, rhs), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, freq))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2  # greedy non-overlapping
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges


def test_bpe_learn_merges_matches_reference(spark):
    from radar_output_restructure_spark.operators.text import bpe_learn_merges

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "the newest low lower the the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.rank, r.lhs, r.rhs, r.pair_freq)
        for r in bpe_learn_merges(df, n_merges=6).collect()
    )
    assert got == _bpe_reference(texts, 6)


def test_bpe_merged_tokens_can_chain_across_rounds(spark):
    """A later round may merge a previously-merged symbol (multi-char lhs),
    and the single-space anchors must not match partial symbols."""
    from radar_output_restructure_spark.operators.text import bpe_learn_merges

    texts = ["aaaa aaaa aaaa ab ab"]
    df = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    got = [
        (r.rank, r.lhs, r.rhs, r.pair_freq)
        for r in bpe_learn_merges(df, n_merges=3).collect()
    ]
    assert got == _bpe_reference(texts, 3)
    # round 1 merges (a,a) greedily -> 'aa','aa'; round 2 merges (aa,aa)
    assert got[0][1:3] == ("a", "a")
    assert got[1][1:3] == ("aa", "aa")


def test_bpe_stops_when_no_pairs_remain(spark):
    from radar_output_restructure_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame(
        [(0, "ab ab cd")], "doc_id long, text string"
    )
    out = bpe_learn_merges(df, n_merges=10).collect()
    # only (a,b) and (c,d) are ever mergeable: 2 rounds, then exhaustion
    assert len(out) == 2


def test_bpe_encode_counts_match_reference_segmentation(spark):
    from radar_output_restructure_spark.operators.text import bpe_encode

    texts = ["low low lower", "newest newest", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: (r.n_words, r.n_bpe_tokens)
            for r in bpe_encode(df, n_merges=2).collect()}
    # reference: replay learning then count symbols per doc
    merges = _bpe_reference(texts, 2)
    segs = {}
    for t in texts:
        for w in t.split():
            segs.setdefault(w, list(w))
    for _rank, lhs, rhs, _f in merges:
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs); i += 2
                else:
                    out.append(s[i]); i += 1
            segs[w] = out
    for i, t in enumerate(texts):
        words = t.split()
        assert rows[i] == (len(words), sum(len(segs[w]) for w in words))
    assert rows[2] == (0, 0)  # empty doc keeps zeros via the left join


def test_int8_code_vectors_matches_quantize(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        int8_code_vectors,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.5, -1.0, 0.25, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
            Row(vec_id=3, embedding=[0.1, 0.2, -0.3, 0.4]),
        ]
    )
    vecs = {r.vec_id: list(r.q) for r in int8_code_vectors(df).collect()}
    exploded = {
        (r.vec_id, r.dim): r.q for r in quantize_embeddings(df).collect()
    }
    for vid, q in vecs.items():
        assert q == [exploded[(vid, d + 1)] for d in range(4)]


def test_per_source_cap(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.curation import (
        per_source_cap,
    )

    rows = []
    for s in ("a", "b"):
        for i in range(5):
            # doc quality rises with longer, stopword-ier text
            rows.append(
                Row(
                    doc_id=len(rows),
                    source=s,
                    text=("the and is of " * (i + 1)).strip(),
                )
            )
    df = spark.createDataFrame(rows)
    out = per_source_cap(df, cap=3).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r.source, []).append(r)
    assert set(by_source) == {"a", "b"}
    for s, kept in by_source.items():
        assert len(kept) == 3
        assert sorted(r.source_rank for r in kept) == [1, 2, 3]
    # ties broken by doc_id asc within equal quality; cap keeps best-quality
    # docs (the longer repeats score higher on the length term)
    a_ids = {r.doc_id for r in by_source["a"]}
    assert 4 in a_ids and 0 not in a_ids


def test_cms_heavy_hitters_overestimates_exact(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="apple apple apple banana"),
            Row(doc_id=1, text="apple banana cherry"),
            Row(doc_id=2, text="apple durian durian"),
        ]
    )
    # narrow width forces collisions; estimate must never undercount
    rows = {r.token: r for r in cms_heavy_hitters(docs, threshold=1, width=4).collect()}
    assert rows["apple"].exact_n == 5
    for r in rows.values():
        assert r.cms_count >= r.exact_n
    # wide sketch: no collisions, estimates exact
    wide = {r.token: r for r in cms_heavy_hitters(docs, threshold=2, width=1024).collect()}
    assert wide["apple"].cms_count == 5
    assert wide["durian"].cms_count == 2
    assert "cherry" not in wide  # below threshold


def test_hll_distinct_estimate(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.sketches import hll_distinct

    rows = [
        Row(lang="en", text=" ".join(f"tok{i}" for i in range(200)))
    ] + [
        # duplicated token stream must not move the registers
        Row(lang="en", text=" ".join(f"tok{i}" for i in range(200))),
        Row(lang="de", text="eins zwei drei"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.lang: r for r in hll_distinct(df).collect()}
    en = out["en"]
    assert en.exact_distinct == 200
    # raw HLL at m=256, n=200: generous band, deterministic value
    assert 50 < en.hll_estimate < 800
    assert en.n_registers_hit + en.n_zero_registers == 256
    de = out["de"]
    assert de.exact_distinct == 3
    assert de.n_registers_hit <= 3
    # duplicate-absorption: a third copy of the en stream changes nothing
    df2 = spark.createDataFrame(rows + [rows[0]])
    out2 = {r.lang: r for r in hll_distinct(df2).collect()}
    assert out2["en"].hll_estimate == en.hll_estimate


def test_int8_codes_np_matches_jvm(spark):
    """The Arrow-side quantizer must reproduce the JVM Column path
    bit-for-bit, including the half-up edge just below 0.5."""
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        _int8_codes_np,
        int8_code_vectors,
    )

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-2, 2, (50, 8))
    vecs[0] = 0.0  # zero vector
    # all three of these scale to a v == 0.5 tie (the middle one lands on
    # 0.5 after the division/multiplication round-trip): half-up ties must
    # go AWAY from zero on both engines
    vecs[1] = [1.0, 0.49999999999999994 / 127.0, 0.5 / 127.0, -0.5 / 127.0,
               0, 0, 0, 0]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(v) for v in row])
         for i, row in enumerate(vecs)]
    )
    jvm = {r.vec_id: list(r.q) for r in int8_code_vectors(df).collect()}
    rows = sorted(jvm)
    raw = np.array([[float(x) for x in vecs[i]] for i in rows])
    npc = _int8_codes_np(raw)
    for i in rows:
        assert list(npc[i]) == jvm[i], (i, list(npc[i]), jvm[i])
    assert jvm[1][1] == 1 and jvm[1][2] == 1 and jvm[1][3] == -1


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [
            (0, "abcd"),      # uniform over 4 chars -> exactly 2 bits
            (1, "aaaa"),      # single class -> 0 bits
            (2, ""),          # empty -> emits nothing
            (3, None),        # null -> emits nothing
            (4, "aabb"),      # uniform over 2 chars -> exactly 1 bit
        ],
        "doc_id long, text string",
    )
    rows = {r.doc: r for r in X.char_entropy(df).collect()}
    assert set(rows) == {0, 1, 4}
    assert rows[0].entropy_micro == 2_000_000
    assert rows[0].n_chars == 4 and rows[0].distinct_chars == 4
    assert rows[1].entropy_micro == 0
    assert rows[4].entropy_micro == 1_000_000
    assert rows[4].distinct_chars == 2


def test_centroid_outlier_scores_flags_antipodal_vector(spark):
    from radar_output_restructure_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    base = [1.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [
            (0, base),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [-0.5, 0.0, 0.0, 0.0]),      # points away from the bulk
            (3, [0.0, 0.0, 0.0, 0.0]),       # zero vector -> cos 0
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in centroid_outlier_scores(df).collect()}
    assert rows[0].is_outlier == 0 and rows[0].centroid_cos > 0
    assert rows[2].is_outlier == 1 and rows[2].centroid_cos < 0
    assert rows[3].centroid_cos == 0.0


def test_decontaminate_vs_eval_detects_planted_dup(spark):
    from radar_output_restructure_spark.operators.similarity import (
        decontaminate_vs_eval,
    )

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0]),    # same direction as eval 0 -> sim 1.0
            (11, [0.0, 0.0, 5.0]),    # orthogonal to both -> sim 0.0
            (12, [0.0, 3.0, 3.0]),    # 45 deg to eval 1
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: r
        for r in decontaminate_vs_eval(train, ev, tau=0.9).collect()
    }
    assert rows[10].max_eval_sim == 1.0 and rows[10].contaminated == 1
    assert rows[10].nearest_eval == 0
    assert rows[11].max_eval_sim == 0.0 and rows[11].contaminated == 0
    # ties at max break to the SMALLEST eval id
    assert rows[11].nearest_eval == 0
    assert rows[12].contaminated == 0 and rows[12].nearest_eval == 1


def test_snapshot_neardup_delta_asymmetric(spark):
    """Batch docs near-dup against HISTORY only: an in-batch duplicate pair
    must not flag each other, and a boilerplate-shifted re-crawl of a
    history doc is caught at hamming 0-3."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        snapshot_neardup_delta,
    )

    words = [f"w{i}" for i in range(21)]
    base = " ".join(w for w in words for _ in range(9))
    hist = spark.createDataFrame(
        [(0, base), (1, "completely different history content")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " extra"),            # near-dup of history 0
            (11, "fresh unseen text about spark"),
            (12, "fresh unseen text about spark"),  # exact dup of 11 IN BATCH
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in snapshot_neardup_delta(batch, hist).collect()}
    assert set(rows) == {10, 11, 12}
    assert rows[10].kept == 0 and rows[10].n_near_dup >= 1
    assert 0 <= rows[10].min_hamming <= 3
    # batch x batch pairs never count: both copies of the fresh text keep
    assert rows[11].kept == 1 and rows[11].min_hamming == -1
    assert rows[12].kept == 1 and rows[12].n_near_dup == 0


def test_containment_pairs_quote_detection(spark):
    """A short doc quoted wholesale inside a long one: Jaccard is low but
    containment short->long is 1.0 — the directional signal."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(60))
    df = spark.createDataFrame(
        [(0, quote), (1, long_doc), (2, "unrelated text entirely here")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert (0, 1) in rows
    r = rows[(0, 1)]
    assert r.containment_a == 1.0  # every shingle of the quote is in long
    assert r.containment_b < 0.2
    # symmetric Jaccard at the same bar misses the pair entirely
    assert not jaccard_pairs(df, threshold=0.9).collect()


def test_source_kl_divergence_drift_signal(spark):
    """A source whose vocabulary matches the corpus mix scores near zero;
    a divergent source scores strictly higher."""
    from radar_output_restructure_spark.operators import text as T

    rows = [("a", "x y z w x y z w")] * 4 + [("b", "q q q q q q q q")]
    df = spark.createDataFrame(
        [(s, t) for s, t in rows], "source string, text string"
    )
    out = {r.source: r for r in T.source_kl_divergence(df).collect()}
    assert out["b"].kl_micro > out["a"].kl_micro
    assert out["b"].kl_micro > 0
    assert out["a"].n_tokens == 32 and out["b"].n_tokens == 8


def test_trigram_backoff_paths(spark):
    """Each stupid-backoff arm fires where it should: a doc repeating the
    training text scores on the trigram path; novel word orders back off
    to bigram/unigram."""
    from radar_output_restructure_spark.operators import text as T

    train = spark.createDataFrame(
        [(0, "a b c d e")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [
            (0, "a b c d e"),   # all trigrams seen -> pure tri path
            (1, "c d a b x"),   # "c d" + "d a" novel tri; "a b" bigram seen
            (2, "zz qq ww"),    # nothing seen -> unigram floor only
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.trigram_backoff_score(score, train).collect()}
    assert rows[0].n_trigrams == 3 and rows[0].n_tri == 3
    assert rows[0].n_bi == 0 and rows[0].n_uni == 0
    # trigram path on seen text is exact: P=1 each -> nll 0
    assert rows[0].nll_micro == 0
    assert rows[1].n_tri + rows[1].n_bi + rows[1].n_uni == 3
    assert rows[1].n_bi >= 1  # at least one bigram backoff fired
    assert rows[2].n_uni == 1 and rows[2].n_tri == 0 and rows[2].n_bi == 0
    assert rows[2].nll_micro > 0


def test_log_bucket_quantiles_mergeable_and_bounded_error(spark):
    """Sketch quantiles stay within one bucket (<= 1/16 relative error) of
    the exact percentile, and bucket counts MERGE: sketching two shards
    and summing equals sketching the union."""
    from radar_output_restructure_spark.operators.sketches import (
        log_bucket_quantiles,
    )

    vals = list(range(1, 201))  # 1..200, exact p50=100, p95=190, p99=198
    df = spark.createDataFrame(
        [("s", v) for v in vals], "source string, n_chars long"
    )
    row = log_bucket_quantiles(df, "n_chars").collect()[0]
    assert row.n == 200
    for est, exact in ((row.q50, 100), (row.q95, 190), (row.q99, 198)):
        assert est <= exact  # lower bound of the crossing bucket
        assert exact - est <= exact / 16 + 1  # one sub-bucket of error

    # merge = union: sketch(shard1 + shard2) equals sketch(all)
    half = spark.createDataFrame(
        [("s", v) for v in vals[::2]] + [("s", v) for v in vals[1::2]],
        "source string, n_chars long",
    )
    row2 = log_bucket_quantiles(half, "n_chars").collect()[0]
    assert (row2.q50, row2.q95, row2.q99) == (row.q50, row.q95, row.q99)


def test_random_projection_preserves_distances(spark):
    """JL property: relative pairwise distances survive 64 -> 16
    projection (statistically; the ±1 matrix is deterministic so the test
    is stable), and the projection is exact integer output."""
    import numpy as np

    from radar_output_restructure_spark.operators.similarity import (
        RP_SCALE,
        random_projection,
        rp_sign_matrix,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(6, 64).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(64).astype("float32")  # near pair
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    out = random_projection(df).collect()
    proj = np.zeros((6, 16))
    for r in out:
        proj[r.vec_id, r.dim] = r.proj
    # exact integer replay: proj == S @ round(x*scale)
    s = np.array(rp_sign_matrix(16, 64), dtype=np.int64)
    q = np.round(vecs.astype(np.float64) * RP_SCALE).astype(np.int64)
    assert (proj == (q @ s.T)).all()
    # the planted near-pair stays the closest pair after projection
    d = ((proj[:, None, :] - proj[None, :, :]) ** 2).sum(-1).astype(float)
    d[np.arange(6), np.arange(6)] = np.inf
    assert d[0].argmin() == 1 and d[1].argmin() == 0


# ---------------------------------------------------------------------------
# the shared tokenizer: split_words, token_stream and windows
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    )


def _source_docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, (t, s) in enumerate(rows)]
    )


def _model_words(text):
    """Pure-Python split_words: trim spaces only, lowercase, split on
    whitespace runs, keep every '' piece; NULL text has no array."""
    return None if text is None else re.split(r"\s+", text.strip(" ").lower())


def test_tokenizer_matches_python_model(spark):
    texts = [
        "\tHello  World ",  # trim keeps the tab: a leading ''
        "",
        "   ",
        None,
        "MiXeD Case wOrDs",
        "runs    of   spaces and\na newline",
        "one",
        "a b a b a",
    ]
    df = _docs(spark, list(enumerate(texts, start=1)))
    w = F.col("__w")

    def ends(k):  # struct elements: the first and last word of the window
        return X.windows(
            F.size(w),
            k,
            lambda i: F.struct(
                F.element_at(w, i).alias("first"),
                F.element_at(w, i + (k - 1)).alias("last"),
            ),
            "struct<first:string,last:string>",
        )

    ks = range(1, 5)
    rows = (
        df.select("doc_id", X.split_words("text").alias("__w"))
        .select(
            "doc_id",
            "__w",
            *[X.word_grams(w, k).alias(f"g{k}") for k in ks],
            *[ends(k).alias(f"e{k}") for k in ks],
        )
        .collect()
    )
    assert sorted(r.doc_id for r in rows) == list(range(1, len(texts) + 1))
    for r in rows:
        words = _model_words(texts[r.doc_id - 1])
        assert r["__w"] == words
        for k in ks:
            starts = range(len(words) - k + 1) if words is not None else ()
            assert r[f"g{k}"] == [" ".join(words[i : i + k]) for i in starts]
            assert [tuple(e) for e in r[f"e{k}"]] == [
                (words[i], words[i + k - 1]) for i in starts
            ]
    assert _model_words(texts[0]) == ["", "hello", "world"]

    toks = X.token_stream(df, "text", F.col("doc_id").alias("doc"), name="t")
    assert sorted((r.doc, r.t) for r in toks.collect()) == sorted(
        (i, t)
        for i, text in enumerate(texts, start=1)
        for t in _model_words(text) or ()
        if t != ""
    )

    # which operators keep the tab's leading '': the unigram token stream
    # drops it, the bigram window keeps it (' hello' is a bigram)
    tab = df.filter(F.col("doc_id") == 1)
    assert X.unigram_logprob_score(tab).first()["n_tokens"] == 2
    assert X.bigram_logprob_score(tab).first()["n_bigrams"] == 2


def test_gopher_quality_rules(spark):
    from radar_output_restructure_spark.operators.text import gopher_quality

    long_good = "the quick brown fox jumps over a lazy dog " * 10  # 90 words
    out = {
        r.doc: r
        for r in gopher_quality(
            _source_docs(
                spark,
                [
                    (long_good, "s"),  # passes every rule
                    ("short text only", "s"),  # < 50 words
                    ("", "s"),  # blank
                ],
            )
        ).collect()
    }
    good = out[0]
    assert good.n_words == 90
    assert good.passes == 1
    assert good.n_stop_distinct >= 2  # 'the', 'a', 'over' not counted...
    assert 3000 <= good.mean_word_len_milli <= 10000
    assert good.alpha_ratio_micro == 1_000_000
    assert out[1].passes == 0 and out[1].n_words == 3
    assert out[2].n_words == 0 and out[2].passes == 0
    assert out[2].mean_word_len_milli == 0 and out[2].alpha_ratio_micro == 0


def test_type_token_ratio(spark):
    from radar_output_restructure_spark.operators.text import type_token_ratio

    out = {
        r.doc: r
        for r in type_token_ratio(
            _source_docs(spark, [("a b a b", "s"), ("x y z", "s"), ("", "s")])
        ).collect()
    }
    assert (out[0].n_tokens, out[0].n_types, out[0].ttr_micro) == (4, 2, 500000)
    assert out[1].ttr_micro == 1_000_000
    assert (out[2].n_tokens, out[2].ttr_micro) == (0, 0)


def test_tokenizer_fertility(spark):
    from radar_output_restructure_spark.operators.text import (
        tokenizer_fertility,
    )

    out = {
        r.source: r
        for r in tokenizer_fertility(
            _source_docs(
                spark,
                [("plain words here", "a"), ("hy-phen x2 token", "b")],
            )
        ).collect()
    }
    assert out["a"].n_words == 3 and out["a"].n_bpe_tokens == 3
    assert out["a"].fertility_micro == 1_000_000
    # "hy-phen" -> hy,-,phen ; "x2" -> x,2 ; "token" -> token = 6 BPE-ish
    assert out["b"].n_words == 3 and out["b"].n_bpe_tokens == 6
    assert out["b"].fertility_micro == 2_000_000


def test_ngram_novelty(spark):
    from radar_output_restructure_spark.operators.text import ngram_novelty

    out = {
        r.doc: r
        for r in ngram_novelty(
            _source_docs(
                spark,
                [
                    ("one two three four", "s"),  # shares 'one two three'
                    ("one two three five", "s"),
                    ("entirely different words here", "s"),
                    ("zz", "s"),  # < k words: absent from output
                ],
            )
        ).collect()
    }
    assert 3 not in out
    assert out[2].novelty_micro == 1_000_000
    # docs 0/1: 2 shingles each, 1 shared (df=2) + 1 unique
    for d in (0, 1):
        assert out[d].n_shingles == 2 and out[d].n_novel == 1
        assert out[d].novelty_micro == 500000


def test_stopword_count_counts_adjacent_repeats(spark):
    """'the the the' has three stopword hits, not two: single-space
    delimiters were consumed by non-overlapping matches."""
    from radar_output_restructure_spark.operators.text import quality_features

    df = _docs(spark, [(1, "the the the"), (2, "the cat the dog the")])
    f = quality_features("text")
    out = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", f["n_stopwords"].alias("n")).collect()
    }
    assert out == {1: 3, 2: 3}


def test_lang_marker_count_counts_adjacent_repeats(spark):
    from radar_output_restructure_spark.operators.text import lang_scores

    df = _docs(spark, [(1, "der der und und ist")])
    s = lang_scores("text")
    row = df.select(s["de"].alias("de"), s["en"].alias("en")).first()
    assert row["de"] == 5
    assert row["en"] == 0


def test_blank_doc_scores_zero_tokens(spark):
    """A blank document must have n_tokens=0 and nll_micro=0, not one
    phantom '' token with a finite NLL."""
    from radar_output_restructure_spark.operators.text import (
        unigram_logprob_score,
    )

    df = _docs(spark, [(1, "a b a"), (2, ""), (3, "   ")])
    out = {r["doc"]: r for r in unigram_logprob_score(df).collect()}
    assert out[2]["n_tokens"] == 0 and out[2]["nll_micro"] == 0
    assert out[3]["n_tokens"] == 0 and out[3]["nll_micro"] == 0
    assert out[1]["n_tokens"] == 3


def test_blank_doc_not_in_vocabulary(spark):
    from radar_output_restructure_spark.operators.text import corpus_vocabulary

    df = _docs(spark, [(1, "x y"), (2, ""), (3, "")])
    terms = {r["term"] for r in corpus_vocabulary(df, k=10).collect()}
    assert "" not in terms
    assert terms == {"x", "y"}


def test_blank_docs_do_not_cosine_match(spark):
    """Two blank docs must not emit a cos=1.0 pair on the '' term."""
    from radar_output_restructure_spark.operators.text import (
        sparse_cosine_pairs,
    )

    df = _docs(spark, [(1, ""), (2, ""), (3, "w w"), (4, "w w")])
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in sparse_cosine_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) not in pairs
    assert (3, 4) in pairs


def test_sparse_cosine_norms_use_pruned_term_space(spark):
    """With max_df pruning, cos must be the cosine of the SURVIVING-term
    vectors: a pair identical on kept terms scores 1.0 even when a capped
    term dominates the raw vectors."""
    from radar_output_restructure_spark.operators.text import (
        sparse_cosine_pairs,
    )

    # 'boiler' appears in all 4 docs (df=4 > max_df=3) and dominates the
    # raw norms; docs 1 and 2 are identical on the surviving term 'rare'.
    df = _docs(
        spark,
        [
            (1, "boiler boiler boiler rare"),
            (2, "boiler boiler boiler rare"),
            (3, "boiler other"),
            (4, "boiler thing"),
        ],
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["cos"]
        for r in sparse_cosine_pairs(df, threshold=0.1, max_df=3).collect()
    }
    assert out.get((1, 2)) == 1.0


def test_pmi_double_factors_match_bigint_at_small_counts(spark):
    """The overflow fix (cast factors to double before multiplying) must be
    value-identical at small counts: exact integers below 2^53."""
    from radar_output_restructure_spark.operators.text import pmi_collocations

    df = _docs(
        spark,
        [(i, "fast car fast car slow boat") for i in range(4)],
    )
    out = {
        (r["lhs"], r["rhs"]): r["pmi_micro"]
        for r in pmi_collocations(df, min_count=2, k=10).collect()
    }
    import math

    # c(fast)=8, c(car)=8, n(fast car)=8, total=24
    expect = round(math.log((8 * 24) / (8 * 8)) * 1_000_000)
    assert out[("fast", "car")] == expect
