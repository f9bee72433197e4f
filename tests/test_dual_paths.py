"""Every driver/distributed dual path in `operators/` computes the same result.

Each operator with a driver path asks `driver_gate.collect_if_fits`
whether its state fits; `assert_paths_agree` runs an operator once as is
(the gate accepts) and once with that one function forced to decline (the
distributed fallback), and requires exactly equal results: the same rows
and, for a DataFrame, the same schema. The model is spark-rapids'
`assert_gpu_and_cpu_are_equal_collect`.

The real gate (one job, one Arrow table or None) and
`driver_gate.local_frame`, the way driver results become frames again, are
tested here too.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from pyspark.sql import DataFrame

from radar_output_restructure_spark.operators import driver_gate


def _observed(result):
    """A DataFrame as (analyzed schema, sorted rows), a tuple item by item,
    any other value as it is."""
    if isinstance(result, DataFrame):
        return result.select("*").schema, sorted(map(tuple, result.collect()))
    if isinstance(result, tuple):
        return tuple(_observed(r) for r in result)
    return result


def assert_paths_agree(run):
    """`run()` with the gate as is, then with the gate declining: the
    first run must actually take the driver path, and both results must
    be equal, schemas included."""
    real = driver_gate.collect_if_fits
    accepted = []

    def spy(df, cap):
        table = real(df, cap)
        accepted.append(table is not None)
        return table

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(driver_gate, "collect_if_fits", spy)
        driver = _observed(run())
        mp.setattr(driver_gate, "collect_if_fits", lambda df, cap: None)
        distributed = _observed(run())
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
        merges, seg_frame = X._bpe_train(df, "text", 5)
        return merges, seg_frame()

    return run


def _vectors(spark, n, wave):
    rows = [(i, [wave(i, d) for d in range(8)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf(spark):
    from radar_output_restructure_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df = _vectors(spark, 60, lambda i, d: math.sin(i * 13.7 + d))
    return lambda: train_ivf_centroids(df, k=4, iters=3, dims=8)


def _pq(spark):
    from radar_output_restructure_spark.operators.similarity import (
        train_pq_codebooks,
    )

    df = _vectors(spark, 40, lambda i, d: math.cos(i * 7.3 + d))
    return lambda: train_pq_codebooks(df, m=2, codebook_k=4, iters=2, dims=8)


def _clusters(pairs, schema, components):
    """`duplicate_clusters` over `pairs`; each path must label every doc
    with the min id of its component (`components`: doc -> label)."""

    def make(spark):
        from radar_output_restructure_spark.operators.dedup_scale import (
            duplicate_clusters,
        )

        df = spark.createDataFrame(pairs, schema)

        def run():
            labels = duplicate_clusters(df)
            assert dict(map(tuple, labels.collect())) == components
            return labels

        return run

    return make


CASES = {
    "bpe": _bpe,
    "ivf": _ivf,
    "pq": _pq,
    "clusters_int_ids": _clusters(
        [(1, 2), (2, 3), (7, 9), (10, 4)],
        "doc_a long, doc_b long",
        {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 10: 4, 4: 4},
    ),
    "clusters_string_ids": _clusters(
        [("url-b", "url-c"), ("url-a", "url-b")],
        "doc_a string, doc_b string",
        {"url-a": "url-a", "url-b": "url-a", "url-c": "url-a"},
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_driver_and_distributed_paths_agree(spark, case):
    assert_paths_agree(CASES[case](spark))


@pytest.mark.parametrize("n_rows", [5, 6, 0])
def test_collect_if_fits_takes_one_job(spark, n_rows):
    """The real gate at cap 5 over a frame with an Exchange, checkpointed
    lazily as the callers do (which runs the shuffle stage while the frame
    is built): up to the cap it returns the whole frame as one Arrow table
    (an empty frame as an empty table of its schema), over it None; either
    way in one Spark job."""
    from pyspark.sql import functions as F

    df = (
        spark.range(n_rows, numPartitions=2)
        .repartition(3, "id")
        .select("id", F.array(F.col("id").cast("double")).alias("v"))
        .localCheckpoint(eager=False)
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    table = driver_gate.collect_if_fits(df, 5)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    if n_rows > 5:
        assert table is None
        return
    assert table.schema.names == ["id", "v"]
    assert table.schema.field("id").type == pa.int64()
    assert table.schema.field("v").type.value_type == pa.float64()
    assert sorted(table.column("id").to_pylist()) == list(range(n_rows))
    assert table.num_rows == n_rows


LOCAL_ROWS = [("doc-1", 7, [0.5, None, -2.0]), ("dokümän-文書", None, None)]


@pytest.mark.parametrize("n_rows", [2, 0])
def test_local_frame_is_a_local_relation_of_the_list_frame(spark, n_rows):
    """`local_frame` gives the rows and the schema `createDataFrame` over
    the same Python list gives (NULLs, a non-nullable field, an array
    column, non-ASCII strings, no rows), planned as a JVM local relation
    rather than a scan of a pickled Python RDD."""
    rows = LOCAL_ROWS[:n_rows]
    schema = "id string not null, n bigint, v array<double>"
    got = driver_gate.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.select("*").schema == want.select("*").schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
