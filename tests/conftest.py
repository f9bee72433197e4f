from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from radar_output_restructure_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: local cores for the test session: SPARK_GRAFT_CPUS, else every CPU
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="ros-tests", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# Slow-lane split (round 12, VERDICT r11 "Next round" #6): the full suite is
# ~50 min on an idle box, which overflows the driver's pytest capture window
# (its r11 run truncated mid-progress with no summary, reading as a failure).
# Tests measured >= 30 s on the round-12 full run are marked `slow` here —
# centrally, so the split is auditable in one place — and pytest.ini's
# `addopts = -m "not slow"` keeps them out of the default lane. They are NOT
# dead: `pytest -m slow` runs them, and the round-close checklist includes a
# full `-m ""` run (round 12's full run: 608 passed, 1 skipped).
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    "test_multimodal.py": {
        "test_audio_fingerprint_and_near_dup_pairs",
        "test_gif_frame_features",
        "test_image_dhash_and_near_dup_pairs",
    },
    "test_review_r11b.py": {
        "test_late_event_extends_open_session_start",
        "test_streaming_funnel_drops_null_ts_and_string_keys",
        "test_streaming_sessions_string_keys",
    },
    "test_s3_storage.py": {
        "test_direct_writer_end_to_end_on_s3",
    },
    "test_semantic_dedup.py": {
        "test_semantic_dedup_drops_exact_duplicates",
        "test_semantic_dedup_matches_bruteforce",
    },
    "test_similarity.py": {
        "test_cosine_topk",
        "test_cosine_topk_int8",
        "test_exact_rerank_recovers_exact_topk",
        "test_pq_encode_and_topk_deterministic",
    },
    "test_storage_index.py": {
        "test_plan_with_index_is_incremental_and_correct",
    },
    "test_streaming.py": {
        "test_service_covers_all_inputs_and_cleaner_first_cycle",
        "test_session_windows_streaming_state",
        "test_stream_interval_join_matches_batch",
        "test_streaming_cms_counters_match_batch",
        "test_streaming_dedup_within_watermark",
        "test_streaming_restructure_exactly_once",
        "test_streaming_restructure_parquet_append",
        "test_streaming_restructure_skips_locked_topic",
        "test_streaming_simhash_near_dup_matches_batch",
        "test_streaming_simhash_wide_matches_batch",
        "test_streaming_two_replica_exactly_once",
    },
    "test_streaming_funnel.py": {
        "test_streaming_funnel_matches_batch_across_split",
        "test_streaming_funnel_single_step",
    },
    "test_streaming_fuzz.py": {
        "test_session_windows_fuzz_parity",
        "test_streaming_dedup_fuzz",
        "test_streaming_funnel_fuzz_parity",
        "test_streaming_simhash_fuzz_no_crash",
    },
    "test_text_ops.py": {
        "test_bigram_logprob_score",
        "test_bpe_encode_counts_match_reference_segmentation",
        "test_bpe_learn_merges_matches_reference",
        "test_bpe_merged_tokens_can_chain_across_rounds",
        "test_bpe_stops_when_no_pairs_remain",
        "test_centroid_outlier_scores_flags_antipodal_vector",
        "test_cms_heavy_hitters_overestimates_exact",
        "test_containment_pairs_quote_detection",
        "test_contamination_scores",
        "test_corpus_vocabulary",
        "test_decontaminate_vs_eval_detects_planted_dup",
        "test_duplicate_clusters_components",
        "test_fingerprint_overlap_pairs_stop_fp_cap",
        "test_hll_distinct_estimate",
        "test_jaccard_stop_shingle_cap",
        "test_log_bucket_quantiles_mergeable_and_bounded_error",
        "test_minhash_identical_docs_share_all_bands",
        "test_per_source_cap",
        "test_shingles_and_jaccard",
        "test_simhash_near_dup_pairs",
        "test_simhash_similar_docs_close",
        "test_simhash_wide_bucket_df_cap",
        "test_simhash_wide_near_dup_pairs",
        "test_sliding_chunks",
        "test_snapshot_neardup_delta_asymmetric",
        "test_source_kl_divergence_drift_signal",
        "test_temperature_mixture_sample_rates",
        "test_tfidf_rank_determinism",
        "test_train_ivf_centroids_deterministic",
        "test_train_ivf_centroids_empty_cell_keeps_seed",
        "test_train_ivf_centroids_recovers_clusters",
        "test_trigram_backoff_paths",
    },
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        if item.name.split("[")[0] in SLOW_TESTS.get(fname, ()):  # noqa: SIM118
            item.add_marker(pytest.mark.slow)
