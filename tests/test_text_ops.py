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
from radar_output_restructure_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
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


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="x")])
    out = extract_features(attach_binary_payload(df)).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_bytes == 5
    import hashlib

    assert by_id[1].digest == hashlib.md5(b"hello").hexdigest()
    assert by_id[2].ascii_ratio == 1.0


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


def _make_wav(freq_hz: float, seconds: float = 0.5, rate: int = 8000) -> bytes:
    import io as _io
    import wave

    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    samples = (0.5 * np.sin(2 * np.pi * freq_hz * t) * 32767).astype("<i2")
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _make_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    import struct as _struct

    row = (bytes([rgb[2], rgb[1], rgb[0]]) * width).ljust(
        (width * 3 + 3) & ~3, b"\x00"
    )
    pixels = row * height
    header_size = 14 + 40
    file_size = header_size + len(pixels)
    return (
        b"BM"
        + _struct.pack("<IHHI", file_size, 0, 0, header_size)
        + _struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pixels), 2835, 2835, 0, 0)
        + pixels
    )


def test_wav_audio_features_real_decode(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    wav = _make_wav(440.0)
    meta = decode_wav(wav)
    assert meta["sample_rate"] == 8000 and meta["channels"] == 1
    assert abs(meta["duration_s"] - 0.5) < 1e-6
    # a 0.5-amplitude sine has RMS ~0.3536 and peak ~0.5
    assert 0.34 < meta["rms"] < 0.36 and 0.49 <= meta["peak"] <= 0.51

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=_make_wav(220.0 * (i + 1))) for i in range(4)]
    )
    rows = {r.doc_id: r for r in audio_features(df).collect()}
    assert len(rows) == 4
    assert all(abs(r.duration_s - 0.5) < 1e-6 for r in rows.values())
    assert all(0.3 < r.rms < 0.4 for r in rows.values())


def test_bmp_image_features_real_decode(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        image_features,
    )

    bmp = _make_bmp(16, 9, (200, 100, 50))
    meta = decode_image(bmp)
    assert (meta["width"], meta["height"]) == (16, 9)
    assert (meta["mean_r"], meta["mean_g"], meta["mean_b"]) == (200.0, 100.0, 50.0)

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=_make_bmp(8 + i, 4, (10 * i, 20, 30)))
         for i in range(3)]
    )
    rows = {r.doc_id: r for r in image_features(df).collect()}
    assert rows[2].width == 10 and rows[2].mean_r == 20.0


def test_decode_image_unsupported_codec_raises():
    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_image

    # an MP4 ftyp box: video containers stay documented-unsupported
    with _pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_image(b"\x00\x00\x00\x18ftypisom....")
    # progressive JPEG dispatches into decode_jpeg and rejects SOF2 there
    with _pytest.raises(NotImplementedError, match="SOF0"):
        decode_image(
            b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        )


def _make_png(px, channels: int, filters: list[int]) -> bytes:
    """Reference PNG encoder (test-side): forward-filters each scanline with
    the requested filter type per the spec, so the decoder must invert all of
    None/Sub/Up/Average/Paeth to reproduce `px` (an HxWxC uint8 array)."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    h, w, c = px.shape
    assert c == channels
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = px.reshape(h, w * c).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = filters[y % len(filters)]
        line = np.empty(w * c, dtype=np.int32)
        for x in range(w * c):
            a = int(cur[x - c]) if x >= c else 0
            b = int(prev[x])
            cc = int(prev[x - c]) if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw += bytes(line.astype(np.uint8))
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", _zlib.crc32(ctype + data))
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_golden():
    """Round-trip a deterministic RGB image through every PNG filter type:
    the decoder's reconstruction must reproduce the exact pixel means."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        decode_png,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(10, 13, 3), dtype=np.uint8)
    expect = px.reshape(-1, 3).mean(axis=0)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = _make_png(px, 3, filters)
        meta = decode_png(png)
        assert (meta["width"], meta["height"]) == (13, 10), filters
        got = (meta["mean_r"], meta["mean_g"], meta["mean_b"])
        assert np.allclose(got, expect, atol=1e-5), (filters, got, expect)
    # decode_image dispatches on the PNG magic
    assert decode_image(_make_png(px, 3, [4]))["width"] == 13


def test_png_decode_rgba_and_grayscale():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_png

    rgba = np.zeros((4, 5, 4), dtype=np.uint8)
    rgba[:, :, 0] = 200
    rgba[:, :, 1] = 100
    rgba[:, :, 2] = 50
    rgba[:, :, 3] = 17  # alpha must not leak into the channel means
    meta = decode_png(_make_png(rgba, 4, [0, 1, 2, 3, 4]))
    assert (meta["mean_r"], meta["mean_g"], meta["mean_b"]) == (200.0, 100.0, 50.0)

    gray = np.full((3, 7, 1), 123, dtype=np.uint8)
    meta = decode_png(_make_png(gray, 1, [2]))
    assert meta["mean_r"] == meta["mean_g"] == meta["mean_b"] == 123.0
    assert (meta["width"], meta["height"]) == (7, 3)


def test_png_interlaced_rejected():
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_png

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr))
    )
    with _pytest.raises(NotImplementedError, match="interlaced"):
        decode_png(png)


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


def test_near_dup_bucket_verify_matches_column_form(spark):
    """The per-bucket Arrow verifier must reproduce the Column-expression
    plan (bucket self-join -> HOF cosine per pair) bit-for-bit: same pairs,
    same rounded sims, across multi-table collisions and sub-threshold
    drops."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.similarity import (
        _dot,
        _norm,
        hyperplane_lsh_buckets,
        near_dup_pairs_from_buckets,
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
    cb = hyperplane_lsh_buckets(emb, num_planes=3, dims=16, num_tables=2)
    threshold = 0.2

    got = {
        (r.vec_a, r.vec_b): r.sim
        for r in near_dup_pairs_from_buckets(emb, cb, threshold).collect()
    }

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
    want = {
        (r.vec_a, r.vec_b): r.sim
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
    }
    assert got == want
    assert len(got) > 0  # the fixture must actually exercise collisions


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


# --- GIF fixtures: a real LZW encoder so decode round-trips are genuine ----


def _gif_lzw_encode(indices, min_code_size):
    """Dictionary-building GIF LZW encoder (the inverse of the operator's
    decoder): variable code width, clear at start, end code at EOF."""
    clear = 1 << min_code_size
    end = clear + 1

    out_bits = []

    def emit(code, size):
        for i in range(size):
            out_bits.append((code >> i) & 1)

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    buf = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], code_size)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        buf = (px,)
    if buf:
        emit(table[buf], code_size)
    emit(end, code_size)
    by = bytearray()
    for i in range(0, len(out_bits), 8):
        b = 0
        for j, bit in enumerate(out_bits[i : i + 8]):
            b |= bit << j
        by.append(b)
    return bytes(by)


def _make_gif(px_idx, palette, interlace=False, transparent=None):
    """Assemble a single-frame GIF89a from an index raster + RGB palette."""
    import struct as _s

    h, w = len(px_idx), len(px_idx[0])
    n = max(2, (len(palette) - 1).bit_length())
    gct_flag = 0x80 | (n - 1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", w, h, gct_flag, 0, 0)
    for i in range(1 << n):
        rgb = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes(rgb)
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    iflags = 0x40 if interlace else 0
    out += bytes([0x2C]) + _s.pack("<HHHHB", 0, 0, w, h, iflags)
    flat = [p for row in px_idx for p in row]
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        flat = [p for y in order for p in px_idx[y]]
    min_code = max(2, n)
    data = _gif_lzw_encode(flat, min_code)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_gif_decode_golden():
    """Hand-assembled 4x3 GIF with a known palette: exact means."""
    from radar_output_restructure_spark.operators.multimodal import (
        decode_gif,
        decode_image,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    px = [[0, 1, 2, 3], [3, 2, 1, 0], [0, 0, 1, 1]]
    gif = _make_gif(px, palette)
    meta = decode_gif(gif)
    assert (meta["width"], meta["height"]) == (4, 3)
    import numpy as np

    expect = np.array([palette[i] for row in px for i in row]).mean(axis=0)
    got = (meta["mean_r"], meta["mean_g"], meta["mean_b"])
    assert np.allclose(got, expect, atol=1e-5)
    assert decode_image(gif)["width"] == 4  # magic dispatch


def test_gif_decode_lzw_roundtrip_large():
    """A 31x17 pseudo-random raster stresses real dictionary growth (code
    width increases past min_code_size+1) and multi-sub-block packing."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_gif

    rng = np.random.RandomState(3)
    palette = [tuple(int(v) for v in rng.randint(0, 256, 3)) for _ in range(16)]
    px = rng.randint(0, 16, size=(17, 31)).tolist()
    meta = decode_gif(_make_gif(px, palette))
    expect = np.array([palette[i] for row in px for i in row]).mean(axis=0)
    assert (meta["width"], meta["height"]) == (31, 17)
    assert np.allclose(
        (meta["mean_r"], meta["mean_g"], meta["mean_b"]), expect, atol=1e-5
    )


def test_gif_decode_interlaced_and_transparent():
    """Adam-style 4-pass interlacing de-weaves, and the transparency index
    is excluded from the channel means (GIF89a graphic control)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_gif

    palette = [(200, 0, 0), (0, 200, 0), (0, 0, 200), (50, 50, 50)]
    rng = np.random.RandomState(11)
    px = rng.randint(0, 4, size=(10, 6)).tolist()
    plain = decode_gif(_make_gif(px, palette))
    woven = decode_gif(_make_gif(px, palette, interlace=True))
    assert (
        woven["mean_r"],
        woven["mean_g"],
        woven["mean_b"],
    ) == (plain["mean_r"], plain["mean_g"], plain["mean_b"])

    trans = decode_gif(_make_gif(px, palette, transparent=3))
    flat = [palette[i] for row in px for i in row if i != 3]
    expect = np.array(flat).mean(axis=0)
    assert np.allclose(
        (trans["mean_r"], trans["mean_g"], trans["mean_b"]), expect, atol=1e-5
    )


# --- JPEG fixtures: a real baseline encoder so decode round-trips are
# genuine (forward DCT + quantize + canonical Huffman, T.81 annex K tables)

_JPEG_STD_LUM_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_encode_codes(bits, vals):
    """(symbol -> (code, length)) canonical assignment, mirror of C.2."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.bits += 1
            if self.bits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.bits = 0

    def flush(self):
        while self.bits:  # pad with 1s per T.81
            self.write(1, 1)


def _make_jpeg_gray(px):
    """Encode an HxW uint8 grayscale image as a baseline JPEG (one
    component, standard luminance quant + Huffman tables)."""
    import math as _m
    import struct as _s

    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        JPEG_ZIGZAG,
    )

    h, w = px.shape
    c = np.zeros((8, 8))
    for u in range(8):
        a = _m.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * _m.cos((2 * x + 1) * u * _m.pi / 16)
    q = np.array(_JPEG_STD_LUM_Q, dtype=np.float64)
    dc_codes = _jpeg_encode_codes(_DC_BITS, _DC_VALS)
    ac_codes = _jpeg_encode_codes(_AC_BITS, _AC_VALS)

    bw = _JpegBitWriter()
    pred = 0
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    padded = np.pad(px.astype(np.float64), ((0, ph - h), (0, pw - w)), "edge")
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = padded[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coeffs = c @ block @ c.T  # forward DCT
            zz = coeffs.flat[JPEG_ZIGZAG]
            qz = np.round(zz / q).astype(int)

            def cat(v):
                return 0 if v == 0 else int(abs(v)).bit_length()

            def raw_bits(v, t):
                return v if v >= 0 else v + (1 << t) - 1

            diff = int(qz[0]) - pred
            pred = int(qz[0])
            t = cat(diff)
            bw.write(*dc_codes[t])
            if t:
                bw.write(raw_bits(diff, t), t)
            run = 0
            for k in range(1, 64):
                v = int(qz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*ac_codes[0xF0])  # ZRL
                    run -= 16
                t = cat(v)
                bw.write(*ac_codes[(run << 4) | t])
                bw.write(raw_bits(v, t), t)
                run = 0
            if run:
                bw.write(*ac_codes[0x00])  # EOB
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + _s.pack(">H", 67) + bytes([0]) + bytes(
        _JPEG_STD_LUM_Q
    )
    out += b"\xff\xc0" + _s.pack(">HBHHB", 11, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + _s.pack(">H", 19 + len(vals)) + bytes(
            [tc << 4]
        ) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + _s.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def test_jpeg_decode_roundtrip_gray():
    """Encode a smooth grayscale gradient with a REAL baseline encoder
    (forward DCT + annex-K tables), decode with the operator: dimensions
    exact, mean luma within quantization error, and a flat block decodes
    near-exactly (DC-only path)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:21]
    px = ((yy * 5 + xx * 3) % 200 + 20).astype(np.uint8)
    jpg = _make_jpeg_gray(px)
    meta = decode_jpeg(jpg)
    assert (meta["width"], meta["height"]) == (21, 24)
    assert abs(meta["mean_r"] - float(px.mean())) < 3.0  # quantization error
    assert meta["mean_r"] == meta["mean_g"] == meta["mean_b"]
    assert decode_image(jpg)["width"] == 21  # magic dispatch

    # DC-only flat block: (77-128)*8/16 = -25.5 quantizes to -26, which
    # decodes to exactly 76 — one DC quantization step from the source
    flat = np.full((8, 8), 77, dtype=np.uint8)
    m2 = decode_jpeg(_make_jpeg_gray(flat))
    assert m2["mean_r"] == 76.0
    exact = np.full((8, 8), 80, dtype=np.uint8)  # (80-128)*8/16 = -24 exact
    assert decode_jpeg(_make_jpeg_gray(exact))["mean_r"] == 80.0


def test_jpeg_decode_textured_blocks():
    """A high-frequency checkerboard exercises the AC run-length path (ZRL,
    EOB, multi-category coefficients)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    rng = np.random.RandomState(5)
    base = np.indices((16, 16)).sum(axis=0) % 2 * 180 + 30
    noise = rng.randint(-20, 21, size=(16, 16))
    px = np.clip(base + noise, 0, 255).astype(np.uint8)
    meta = decode_jpeg(_make_jpeg_gray(px))
    assert (meta["width"], meta["height"]) == (16, 16)
    # heavy quantization on a checkerboard still keeps the mean close
    assert abs(meta["mean_r"] - float(px.mean())) < 8.0


def test_jpeg_progressive_rejected():
    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    # SOI + SOF2 header: progressive must raise, not mis-decode
    payload = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with _pytest.raises(NotImplementedError, match="SOF0"):
        decode_jpeg(payload)


def _make_jpeg_color(rgb, subsample=False):
    """Encode an HxWx3 uint8 RGB image as baseline JPEG — 4:4:4, or 4:2:0
    when `subsample` (4 luma + 2 chroma blocks per MCU, chroma = 2x2 box
    mean). One shared quant/Huffman table set for all components."""
    import math as _m
    import struct as _s

    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        JPEG_ZIGZAG,
    )

    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    c = np.zeros((8, 8))
    for u in range(8):
        a = _m.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * _m.cos((2 * x + 1) * u * _m.pi / 16)
    q = np.array(_JPEG_STD_LUM_Q, dtype=np.float64)
    dc_codes = _jpeg_encode_codes(_DC_BITS, _DC_VALS)
    ac_codes = _jpeg_encode_codes(_AC_BITS, _AC_VALS)
    bw = _JpegBitWriter()
    pred = {0: 0, 1: 0, 2: 0}

    def pad_to(plane, bh, bw_):
        ph = (plane.shape[0] + bh - 1) // bh * bh
        pw = (plane.shape[1] + bw_ - 1) // bw_ * bw_
        return np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            "edge",
        )

    def emit_block(plane, y0, x0, comp):
        block = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
        qz = np.round((c @ block @ c.T).flat[JPEG_ZIGZAG] / q).astype(int)

        def cat(v):
            return 0 if v == 0 else int(abs(v)).bit_length()

        def raw(v, t):
            return v if v >= 0 else v + (1 << t) - 1

        diff = int(qz[0]) - pred[comp]
        pred[comp] = int(qz[0])
        t = cat(diff)
        bw.write(*dc_codes[t])
        if t:
            bw.write(raw(diff, t), t)
        run = 0
        for k in range(1, 64):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.write(*ac_codes[0xF0])
                run -= 16
            t = cat(v)
            bw.write(*ac_codes[(run << 4) | t])
            bw.write(raw(v, t), t)
            run = 0
        if run:
            bw.write(*ac_codes[0x00])

    if subsample:  # 4:2:0
        mcu = 16
        yp = pad_to(y, 16, 16)
        cbs = pad_to(cb, 16, 16).reshape(-1, 2, yp.shape[1] // 2, 2).mean((1, 3))
        crs = pad_to(cr, 16, 16).reshape(-1, 2, yp.shape[1] // 2, 2).mean((1, 3))
        for my in range(0, yp.shape[0], mcu):
            for mx in range(0, yp.shape[1], mcu):
                for by in (0, 8):
                    for bx in (0, 8):
                        emit_block(yp, my + by, mx + bx, 0)
                emit_block(cbs, my // 2, mx // 2, 1)
                emit_block(crs, my // 2, mx // 2, 2)
        samp = [0x22, 0x11, 0x11]
    else:  # 4:4:4
        yp, cbs, crs = pad_to(y, 8, 8), pad_to(cb, 8, 8), pad_to(cr, 8, 8)
        for my in range(0, yp.shape[0], 8):
            for mx in range(0, yp.shape[1], 8):
                emit_block(yp, my, mx, 0)
                emit_block(cbs, my, mx, 1)
                emit_block(crs, my, mx, 2)
        samp = [0x11, 0x11, 0x11]
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _s.pack(">H", 67) + bytes([0]) + bytes(_JPEG_STD_LUM_Q)
    sof = _s.pack(">HBHHB", 17, 8, h, w, 3)
    for i in range(3):
        sof += bytes([i + 1, samp[i], 0])
    out += b"\xff\xc0" + sof
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + _s.pack(">H", 19 + len(vals)) + bytes(
            [tc << 4]
        ) + bytes(bits) + bytes(vals)
    sos = _s.pack(">HB", 12, 3)
    for i in range(3):
        sos += bytes([i + 1, 0x00])
    out += b"\xff\xda" + sos + bytes([0, 63, 0])
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_color_444_and_420():
    """Color round-trip through both common sampling layouts: channel means
    within quantization error of the source, 4:2:0 within a bit more (the
    2x2 chroma box filter)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    rng = np.random.RandomState(9)
    base = np.zeros((24, 20, 3))
    base[:, :, 0] = np.linspace(40, 200, 20)[None, :]
    base[:, :, 1] = np.linspace(60, 180, 24)[:, None]
    base[:, :, 2] = 90.0
    rgb = np.clip(base + rng.randint(-10, 11, base.shape), 0, 255).astype(
        np.uint8
    )
    expect = rgb.reshape(-1, 3).mean(axis=0)

    m444 = decode_jpeg(_make_jpeg_color(rgb, subsample=False))
    assert (m444["width"], m444["height"]) == (20, 24)
    got444 = np.array([m444["mean_r"], m444["mean_g"], m444["mean_b"]])
    assert np.all(np.abs(got444 - expect) < 4.0), (got444, expect)

    m420 = decode_jpeg(_make_jpeg_color(rgb, subsample=True))
    assert (m420["width"], m420["height"]) == (20, 24)
    got420 = np.array([m420["mean_r"], m420["mean_g"], m420["mean_b"]])
    assert np.all(np.abs(got420 - expect) < 6.0), (got420, expect)


# --- MP4 fixtures: hand-assembled ISO-BMFF box trees -----------------------


def _box(fourcc, payload=b"", *children):
    body = payload + b"".join(children)
    import struct as _s

    return _s.pack(">I", 8 + len(body)) + fourcc + body


def _unity_matrix():
    import struct as _s

    # The identity transform every real muxer writes: 16.16 fixed-point
    # diagonal (1.0, 1.0) with a 2.30 fixed-point 1.0 in the w slot.
    return _s.pack(
        ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )


def _make_tkhd(w, h, version=0):
    """Spec-exact ISO 14496-12 tkhd payload: FullBox(4) + creation/
    modification/track_ID/reserved/duration (20 v0, 32 v1) + 8 reserved
    + layer/alternate_group/volume/reserved (8) + matrix (36) + 16.16
    width/height."""
    import struct as _s

    times = bytes(32) if version == 1 else bytes(20)
    return _box(
        b"tkhd",
        bytes([version]) + bytes(3)  # version + flags
        + times
        + bytes(8)  # reserved[2]
        + bytes(8)  # layer, alternate_group, volume, reserved
        + _unity_matrix()
        + _s.pack(">II", w << 16, h << 16),
    )


def _make_mp4(
    duration_s=12.5,
    timescale=1000,
    tracks=(("vide", 640, 360), ("soun", 0, 0)),
    tkhd_version=0,
):
    import struct as _s

    mvhd = _box(
        b"mvhd",
        bytes(1) + bytes(3)  # version 0 + flags
        + bytes(8)  # creation/modification
        + _s.pack(">II", timescale, int(duration_s * timescale))
        + bytes(80),
    )
    traks = []
    for handler, w, h in tracks:
        tkhd = _make_tkhd(w, h, version=tkhd_version)
        hdlr = _box(b"hdlr", bytes(8) + handler.encode() + bytes(12))
        traks.append(_box(b"trak", b"", tkhd, _box(b"mdia", b"", hdlr)))
    return _box(b"ftyp", b"isom" + bytes(4) + b"isomiso2") + _box(
        b"moov", b"", mvhd, *traks
    )


def test_probe_mp4_metadata():
    from radar_output_restructure_spark.operators.multimodal import probe_mp4

    meta = probe_mp4(_make_mp4())
    assert meta == {
        "brand": "isom",
        "duration_s": 12.5,
        "n_tracks": 2,
        "width": 640,
        "height": 360,
        "has_video": True,
        "has_audio": True,
    }
    audio_only = probe_mp4(_make_mp4(duration_s=3.0, tracks=(("soun", 0, 0),)))
    assert audio_only["has_video"] is False and audio_only["has_audio"] is True
    assert audio_only["duration_s"] == 3.0 and audio_only["width"] == 0

    # Version-1 tkhd shifts width/height by the 64-bit time fields.
    v1 = probe_mp4(_make_mp4(tracks=(("vide", 1920, 1080),), tkhd_version=1))
    assert (v1["width"], v1["height"]) == (1920, 1080)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ftyp"):
        probe_mp4(b"\x00\x00\x00\x08free")


def test_video_metadata_mapinpandas(spark):
    """The Arrow-batched plumbing over real container bytes."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        video_metadata,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(_make_mp4(duration_s=5.0))),
            Row(
                doc_id=2,
                payload=bytearray(
                    _make_mp4(duration_s=9.0, tracks=(("vide", 1280, 720),))
                ),
            ),
        ],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in video_metadata(df).collect()}
    assert out[1].duration_s == 5.0 and out[1].width == 640
    assert out[2].width == 1280 and out[2].has_audio is False
    assert out[2].brand == "isom"


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


# --- resize / frame-sample operators ---------------------------------------


def test_resize_image_nn_golden():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        resize_image_nn,
    )

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = resize_image_nn(px, 2, 2)
    # index map: floor(i * 4 / 2) -> rows/cols [0, 2]
    assert small.shape == (2, 2, 3)
    assert (small == px[[0, 2]][:, [0, 2]]).all()
    big = resize_image_nn(px, 8, 8)
    assert big.shape == (8, 8, 3)
    assert (big[::2, ::2] == px).all()  # every source pixel survives


def test_encode_bmp_roundtrip():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        _bmp_pixels,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    payload = encode_bmp(px)
    assert (_bmp_pixels(payload) == px).all()
    meta = decode_bmp(payload)
    assert (meta["width"], meta["height"]) == (7, 5)


def test_resize_images_mapinpandas(spark):
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        _bmp_pixels,
        decode_image_pixels,
        encode_bmp,
        resize_images,
    )

    # quadrant-colored 4x4 BMP: nearest-neighbor 2x2 keeps one px/quadrant
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = (255, 0, 0)
    px[:2, 2:] = (0, 255, 0)
    px[2:, :2] = (0, 0, 255)
    px[2:, 2:] = (9, 9, 9)
    df = spark.createDataFrame([Row(doc_id=1, payload=encode_bmp(px))])
    out = resize_images(df, 2, 2).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (2, 2)
    got = _bmp_pixels(bytes(out[0].payload))
    assert (got == px[[0, 2]][:, [0, 2]]).all()

    # pixel dispatch also covers PNG / GIF / JPEG payloads
    png = _make_png(
        np.array([[10, 20, 30, 40]], np.uint8).reshape(1, 4, 1), 1, [0]
    )  # 4x1 gray
    ppx = decode_image_pixels(png)
    assert ppx.shape == (1, 4, 3) and (ppx[0, 1] == 20).all()
    gif = _make_gif([[0, 1], [1, 0]], [(255, 0, 0), (0, 255, 0)])
    gpx = decode_image_pixels(gif)
    assert gpx.shape == (2, 2, 3) and tuple(gpx[0, 0]) == (255, 0, 0)


def test_audio_frame_rms(spark):
    import struct as _s
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_frame_rms,
    )

    # 1 s mono 8 kHz int16: first half amplitude A, second half 2A
    import wave as _wave
    import io as _io

    a = 8000
    samples = np.concatenate(
        [np.full(4000, a, np.int16), np.full(4000, 2 * a, np.int16)]
    )
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    df = spark.createDataFrame([Row(doc_id=1, payload=buf.getvalue())])
    rows = sorted(audio_frame_rms(df, n_frames=3, frame_s=0.1).collect(),
                  key=lambda r: r.frame)
    assert [r.frame for r in rows] == [0, 1, 2]
    lo = round(a / 32768.0, 6)
    hi = round(2 * a / 32768.0, 6)
    assert rows[0].rms == lo and rows[0].peak == lo     # all-low frame
    assert rows[2].rms == hi and rows[2].peak == hi     # all-high frame
    assert lo < rows[1].rms < hi                        # straddles the step
    assert rows[2].start_s == round((8000 - 800) / 8000, 6)


def _make_gif_multi(frames, palette, transparent=None):
    """Assemble a multi-frame GIF89a: each entry of `frames` is
    (px_idx, left, top). Reuses the single-frame builder's encoder."""
    import struct as _s

    screen_h = max(len(f[0]) + f[2] for f in frames)
    screen_w = max(len(f[0][0]) + f[1] for f in frames)
    n = max(2, (len(palette) - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", screen_w, screen_h, 0x80 | (n - 1), 0, 0)
    for i in range(1 << n):
        rgb = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes(rgb)
    for px_idx, left, top in frames:
        h, w = len(px_idx), len(px_idx[0])
        if transparent is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        out += bytes([0x2C]) + _s.pack("<HHHHB", left, top, w, h, 0)
        flat = [p for row in px_idx for p in row]
        min_code = max(2, n)
        data = _gif_lzw_encode(flat, min_code)
        out += bytes([min_code])
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])  # block terminator
    out += bytes([0x3B])
    return bytes(out)


def test_gif_frame_features(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        decode_gif,
        gif_frame_features,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (0, 0, 0)]
    frames = [
        ([[0, 0], [0, 0]], 0, 0),   # all red
        ([[1, 1], [1, 1]], 1, 1),   # all green, offset rect
        ([[2, 2], [2, 2]], 0, 0),   # all blue
    ]
    gif = _make_gif_multi(frames, palette)
    # first-frame decode must agree with the single-frame path
    assert decode_gif(gif)["mean_r"] == 255.0
    df = spark.createDataFrame([Row(doc_id=1, payload=gif)])
    rows = sorted(gif_frame_features(df).collect(), key=lambda r: r.frame)
    assert [r.frame for r in rows] == [0, 1, 2]
    assert all(r.n_frames == 3 for r in rows)
    assert (rows[0].mean_r, rows[1].mean_g, rows[2].mean_b) == (255.0, 255.0, 255.0)
    assert (rows[1].left, rows[1].top) == (1, 1)
    # max_frames sampling keeps first + last
    sampled = sorted(
        gif_frame_features(df, max_frames=2).collect(), key=lambda r: r.frame
    )
    assert [r.frame for r in sampled] == [0, 2]
    # max_frames=1 on a multi-frame GIF keeps frame 0 (the even-spacing
    # formula divides by max_frames-1; this is the guarded special case)
    one = gif_frame_features(df, max_frames=1).collect()
    assert [r.frame for r in one] == [0] and one[0].mean_r == 255.0


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


def test_image_dhash_and_near_dup_pairs(spark):
    """dHash is stable under small perturbation and separates distinct
    images; the band-join finds exactly the near pair."""
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_dhash_features,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    near = base.copy()
    near[0, 0] = (near[0, 0].astype(int) + 3).clip(0, 255).astype(np.uint8)
    far = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)

    h_base, h_near, h_far = (image_dhash(p) for p in (base, near, far))
    assert bin((h_base ^ h_near) & (2**64 - 1)).count("1") <= 2
    assert bin((h_base ^ h_far) & (2**64 - 1)).count("1") > 10

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=encode_bmp(base)),
            Row(doc_id=2, payload=encode_bmp(near)),
            Row(doc_id=3, payload=encode_bmp(far)),
        ]
    )
    feats = {r.doc_id: r for r in image_dhash_features(df).collect()}
    assert feats[1].dhash == h_base and feats[1].width == 32
    pairs = image_near_dup_pairs(df, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].hamming == bin((h_base ^ h_near) & (2**64 - 1)).count("1")


def test_audio_fingerprint_and_near_dup_pairs(spark):
    """Energy-delta audio fingerprints: stable under tiny noise, far for a
    structurally different clip; band join finds the near pair."""
    import io as _io
    import wave as _wave

    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    def wav_from(samples: np.ndarray, rate: int = 8000) -> bytes:
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    rng = np.random.RandomState(7)
    t = np.arange(4000) / 8000.0
    # amplitude ramp gives monotone-varying frame energies (informative bits)
    base = (np.sin(2 * np.pi * 440 * t) * np.linspace(0.1, 0.9, 4000) * 20000)
    near = base + rng.randint(-20, 21, size=base.shape)
    far = rng.randn(4000) * 15000
    b, n, f = (wav_from(x) for x in (base, near, far))

    hb, frames, dur = audio_fingerprint(b)
    hn, _, _ = audio_fingerprint(n)
    hf, _, _ = audio_fingerprint(f)
    assert frames == 65 and dur == 500_000
    assert bin((hb ^ hn) & (2**64 - 1)).count("1") <= 4
    assert bin((hb ^ hf) & (2**64 - 1)).count("1") > 10

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=b), Row(doc_id=2, payload=n), Row(doc_id=3, payload=f)]
    )
    pairs = audio_near_dup_pairs(df, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


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
