"""Regression tests for the round-11 /code-review pass over
operators/dedup_scale.py.

1. snapshot_delta_dedup / snapshot_neardup_delta: NULL-text batch docs must
   be CLASSIFIED (NULL behaves as empty — the repo-wide convention), not
   silently dropped by md5(NULL)/no-token fingerprints.
2. duplicate_clusters driver path preserves the pairs' id type (string ids
   crashed under the cap, worked over it).
3. duplicate_clusters(max_iterations=0) on the distributed path warns
   instead of raising NameError on the unbound `changed`.
4. band_hashes raises on num_hashes % rows_per_band != 0 instead of
   silently ignoring trailing signatures.
5. max_shingle_df=0 is honored as the tightest stop-shingle cap (falsy-zero
   guard dropped the cap entirely).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import driver_gate
from radar_output_restructure_spark.operators.dedup_scale import (
    band_hashes,
    containment_pairs,
    duplicate_clusters,
    jaccard_pairs,
    minhash_wide,
    snapshot_delta_dedup,
    snapshot_neardup_delta,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# 1. NULL text is classified, not dropped
# ---------------------------------------------------------------------------


def test_snapshot_delta_dedup_classifies_null_text(spark):
    batch = _docs(spark, [(1, "alpha beta"), (2, None), (3, "")])
    hist = _docs(spark, [(10, "alpha beta"), (11, None)])
    out = {r["doc_id"]: r["status"] for r in snapshot_delta_dedup(batch, hist).collect()}
    assert set(out) == {1, 2, 3}, "every batch doc must get a status row"
    assert out[1] == "dup_of_history"
    # NULL == empty: both match history doc 11's (NULL->empty) digest
    assert out[2] == "dup_of_history"
    assert out[3] == "dup_of_history"
    # and with no empty/NULL history, NULL + '' batch docs dedup against
    # each other in-batch (min-id survivor)
    out2 = {
        r["doc_id"]: r["status"]
        for r in snapshot_delta_dedup(
            batch, _docs(spark, [(10, "alpha beta")])
        ).collect()
    }
    assert out2 == {1: "dup_of_history", 2: "new", 3: "dup_in_batch"}


def test_snapshot_neardup_delta_classifies_null_text(spark):
    batch = _docs(spark, [(1, "alpha beta gamma"), (2, None)])
    hist = _docs(spark, [(10, "alpha beta gamma delta"), (11, "")])
    out = {r["doc_id"]: r for r in snapshot_neardup_delta(batch, hist).collect()}
    assert set(out) == {1, 2}, "NULL-text batch doc missing from the report"
    # NULL == empty: identical fingerprint to history's empty doc 11
    assert out[2]["kept"] == 0 and out[2]["min_hamming"] == 0


# ---------------------------------------------------------------------------
# 2. driver union-find preserves id type
# ---------------------------------------------------------------------------


def test_duplicate_clusters_string_ids_under_cap(spark):
    pairs = spark.createDataFrame(
        [("url-b", "url-c"), ("url-a", "url-b")],
        "doc_a string, doc_b string",
    )
    got = {
        (r["doc"], r["cluster"]) for r in duplicate_clusters(pairs).collect()
    }
    assert got == {
        ("url-a", "url-a"),
        ("url-b", "url-a"),
        ("url-c", "url-a"),
    }
    assert dict(duplicate_clusters(pairs).dtypes) == {
        "doc": "string",
        "cluster": "string",
    }


def test_duplicate_clusters_string_ids_distributed_path(spark, monkeypatch):
    # force the distributed path: the driver gate declines
    monkeypatch.setattr(driver_gate, "collect_if_fits", lambda df, cap: None)
    pairs = spark.createDataFrame(
        [("url-b", "url-c"), ("url-a", "url-b")],
        "doc_a string, doc_b string",
    )
    got = {(r["doc"], r["cluster"]) for r in duplicate_clusters(pairs).collect()}
    assert got == {
        ("url-a", "url-a"),
        ("url-b", "url-a"),
        ("url-c", "url-a"),
    }


# ---------------------------------------------------------------------------
# 3. zero-iteration budget warns instead of NameError
# ---------------------------------------------------------------------------


def test_duplicate_clusters_zero_iterations_warns(spark, monkeypatch):
    # force the distributed path: the driver gate declines
    monkeypatch.setattr(driver_gate, "collect_if_fits", lambda df, cap: None)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = duplicate_clusters(pairs, max_iterations=0).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    assert len(labels) == 2  # initial self-labels returned, no crash


# ---------------------------------------------------------------------------
# 4. band_hashes divisibility guard
# ---------------------------------------------------------------------------


def test_band_hashes_rejects_non_divisible_rows_per_band(spark):
    wide = minhash_wide(
        _docs(spark, [(1, "a b c d e")]), num_hashes=8
    )
    with pytest.raises(ValueError, match="divide num_hashes"):
        band_hashes(wide, num_hashes=8, rows_per_band=3)


# ---------------------------------------------------------------------------
# 5. zero df-cap is the tightest cap, not "no cap"
# ---------------------------------------------------------------------------


def test_zero_shingle_df_cap_is_honored(spark):
    df = _docs(spark, [(1, "x y z w"), (2, "x y z w")])
    # cap 0 drops EVERY shingle -> no pairs can form
    assert jaccard_pairs(df, threshold=0.0, max_shingle_df=0).count() == 0
    assert containment_pairs(df, threshold=0.0, max_shingle_df=0).count() == 0
    # unset cap still finds the exact duplicate pair
    assert jaccard_pairs(df, threshold=0.9).count() == 1
