"""operators/dedup_scale: every batch entry point of the banded-Hamming
near-duplicate core against a brute-force all-pairs Hamming model."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

import pytest

from radar_output_restructure_spark.operators.dedup_scale import (
    _banded,
    fingerprint_near_dup_pairs,
    simhash,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_wide,
    simhash_wide,
    snapshot_neardup_delta_from_fp,
)
from radar_output_restructure_spark.streaming.windows import (
    streaming_simhash_near_dup_pairs,
    streaming_simhash_near_dup_pairs_wide,
)

U64 = (1 << 64) - 1
BASE = "the quick brown fox jumps over the lazy dog near the quiet river bank"
TEXTS = [
    BASE,
    BASE,  # exact copies: hamming 0, every band bucket holds all three
    BASE,
    BASE.replace("lazy", "sleepy"),
    BASE.replace("quiet", "silent"),
    BASE + " today",
    "completely different words about spark shuffles and parquet footers",
    "completely different words about spark shuffles and parquet files",
    "an unrelated sentence with nothing in common at all here",
]


def _i64(pattern: int) -> int:
    """The signed 64-bit long with this bit pattern."""
    return pattern - (1 << 64) if pattern >> 63 else pattern


#: signed 64-bit fingerprints: near pairs differ in the sign bit and a few
#: low bits, so an unmasked popcount or a logical shift would disagree
FP = 0xFEDCBA9876543210
SIGNED = [
    (1, _i64(FP)),
    (2, _i64(FP ^ (1 << 63) ^ 0b101)),
    (3, _i64(FP ^ 0b111000)),
    (4, _i64(FP ^ U64)),
    (5, -1),
    (6, _i64(U64 ^ (1 << 40))),
]


def _hamming(a: tuple[int, ...], b: tuple[int, ...]) -> int:
    return sum(((x ^ y) & U64).bit_count() for x, y in zip(a, b))


def _all_pairs(fps, max_hamming):
    """Every pair of fingerprints within max_hamming bits."""
    return {
        (a, b, _hamming(fps[a], fps[b]))
        for a, b in combinations(sorted(fps), 2)
        if _hamming(fps[a], fps[b]) <= max_hamming
    }


def _capped(fps, pairs, word_bits, bands, cap):
    """The pairs that share a (band, bv) bucket holding at most `cap`
    fingerprints: what survives the hot-bucket cap."""
    width = word_bits * len(next(iter(fps.values()))) // bands
    ids = {
        d: {
            (i, (fp[i * width // word_bits] >> (i * width % word_bits))
             & ((1 << width) - 1))
            for i in range(bands)
        }
        for d, fp in fps.items()
    }
    n = Counter(k for ks in ids.values() for k in ks)
    return {
        p for p in pairs if any(n[k] <= cap for k in ids[p[0]] & ids[p[1]])
    }


def _narrow_fps(docs):
    return {r.doc: (r.simhash,) for r in simhash(docs).collect()}


def _narrow(spark, docs):
    got = simhash_near_dup_pairs(docs, bands=8, max_hamming=6)
    return got, _all_pairs(_narrow_fps(docs), 6)


def _wide_fps(docs):
    return {r.doc: (r.fp_lo, r.fp_hi) for r in simhash_wide(docs).collect()}


def _wide(spark, docs):
    return simhash_near_dup_pairs_wide(docs), _all_pairs(_wide_fps(docs), 3)


def _wide_capped(spark, docs):
    """Cap 3: the three exact copies keep the buckets only they fill; their
    pairs with doc 3 (2 bits away) share only buckets of 4 or more rows
    and drop."""
    fps = _wide_fps(docs)
    want = _capped(fps, _all_pairs(fps, 3), 32, 4, cap=3)
    assert want < _all_pairs(fps, 3)
    return simhash_near_dup_pairs_wide(docs, max_bucket_df=3), want


def _signed(spark, docs):
    fp = spark.createDataFrame(SIGNED, "id bigint, dhash bigint")
    got = fingerprint_near_dup_pairs(
        fp, "dhash", "id", bits=64, bands=8, max_hamming=6
    ).select("id_a", "id_b", "hamming")
    return got, _all_pairs({i: (h,) for i, h in SIGNED}, 6)


def _snapshot(spark, docs):
    """Batch docs (id >= 4) probe history docs (id < 6); the two overlap,
    as in the registry query, so an overlapping doc matches itself."""
    fp = simhash_wide(docs).localCheckpoint()
    got = snapshot_neardup_delta_from_fp(
        fp.filter("doc >= 4"), fp.filter("doc < 6")
    ).select("doc_id", "n_near_dup", "min_hamming", "kept")
    fps = _wide_fps(docs)
    want = set()
    for new in (d for d in fps if d >= 4):
        hs = [_hamming(fps[new], fps[old]) for old in fps if old < 6]
        hs = [h for h in hs if h <= 3]
        want.add((new, len(hs), min(hs, default=-1), int(not hs)))
    return got, want


def _stream_narrow(spark, docs):
    got = streaming_simhash_near_dup_pairs(simhash(docs))
    return got, _all_pairs(_narrow_fps(docs), 3)


def _stream_wide(spark, docs):
    got = streaming_simhash_near_dup_pairs_wide(simhash_wide(docs))
    return got, _all_pairs(_wide_fps(docs), 3)


@pytest.mark.parametrize(
    "case",
    [
        _narrow,
        _wide,
        _wide_capped,
        _signed,
        _snapshot,
        _stream_narrow,
        _stream_wide,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_near_dup_entry_points_match_brute_force(spark, case):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id bigint, text string"
    )
    got, want = case(spark, docs)
    assert want, "the fixture must produce at least one near-dup"
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


@pytest.mark.parametrize(
    "word_bits,n_words,bands,max_hamming,msg",
    [
        (32, 1, 5, 3, "bits must divide evenly into bands"),
        (32, 2, 4, 4, "bands must exceed max_hamming"),
        (24, 2, 3, 2, "a band must not straddle two fingerprint words"),
    ],
)
def test_banding_rejects_bad_geometry(
    spark, word_bits, n_words, bands, max_hamming, msg
):
    words = [f"w{k}" for k in range(n_words)]
    fp = spark.range(1).selectExpr(*[f"id AS {w}" for w in words])
    with pytest.raises(ValueError, match=msg):
        _banded(fp, words, word_bits, bands, max_hamming)
