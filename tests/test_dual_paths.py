"""Every driver/distributed dual path in `operators/` computes the same result.

Each operator with a driver path asks `driver_gate.collect_if_fits`
whether its state fits; `assert_paths_agree` runs an operator once as is
(the gate accepts) and once with that one function forced to decline (the
distributed fallback), and requires exactly equal results. The model is
spark-rapids' `assert_gpu_and_cpu_are_equal_collect`.
"""

from __future__ import annotations

import math

import pytest

from radar_output_restructure_spark.operators import driver_gate


def assert_paths_agree(run):
    """`run()` with the gate as is, then with the gate declining: the
    first run must actually take the driver path, and both results must
    be equal."""
    real = driver_gate.collect_if_fits
    accepted = []

    def spy(df, cap):
        rows = real(df, cap)
        accepted.append(rows is not None)
        return rows

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(driver_gate, "collect_if_fits", spy)
        driver = run()
        mp.setattr(driver_gate, "collect_if_fits", lambda df, cap: None)
        distributed = run()
    assert accepted and all(accepted), "the driver path was not taken"
    assert driver == distributed


def _bpe(spark):
    from radar_output_restructure_spark.operators import text as X

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "the newest low lower the the",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def run():
        merges, seg = X._bpe_train(df, "text", 5)
        return merges, sorted((r.word, r.seg, r.freq) for r in seg.collect())

    return run


def _vectors(spark, n, wave):
    rows = [(i, [wave(i, d) for d in range(8)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf(spark):
    from radar_output_restructure_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df = _vectors(spark, 60, lambda i, d: math.sin(i * 13.7 + d))
    return lambda: sorted(
        (r.vec_id, tuple(r.embedding))
        for r in train_ivf_centroids(df, k=4, iters=3, dims=8).collect()
    )


def _pq(spark):
    from radar_output_restructure_spark.operators.similarity import (
        train_pq_codebooks,
    )

    df = _vectors(spark, 40, lambda i, d: math.cos(i * 7.3 + d))
    return lambda: train_pq_codebooks(df, m=2, codebook_k=4, iters=2, dims=8)


def _clusters(pairs, schema):
    def make(spark):
        from radar_output_restructure_spark.operators.dedup_scale import (
            duplicate_clusters,
        )

        df = spark.createDataFrame(pairs, schema)

        def run():
            labels = duplicate_clusters(df)
            return labels.dtypes, sorted(map(tuple, labels.collect()))

        return run

    return make


CASES = {
    "bpe": _bpe,
    "ivf": _ivf,
    "pq": _pq,
    "clusters_int_ids": _clusters(
        [(1, 2), (2, 3), (7, 9), (10, 4)], "doc_a long, doc_b long"
    ),
    "clusters_string_ids": _clusters(
        [("url-b", "url-c"), ("url-a", "url-b")], "doc_a string, doc_b string"
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_driver_and_distributed_paths_agree(spark, case):
    assert_paths_agree(CASES[case](spark))
