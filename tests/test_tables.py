"""sources/tables.load_table."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from radar_output_restructure_spark.sources.tables import load_table


def test_load_table_infers_a_file_schema_once_per_file_state(spark, tmp_path):
    """A second load of an unchanged file runs no Spark job (its schema
    is kept); a rewritten file is read with its new schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert first.schema == spark.read.parquet(path).schema

    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    assert load_table(spark, str(tmp_path), "t").schema == first.schema
    assert set(tracker.getJobIdsForGroup(None)) == jobs

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    rewritten = load_table(spark, str(tmp_path), "t").collect()
    assert [r.asDict() for r in rewritten] == [{"a": 3, "b": "x"}]


def test_embedding_near_dup_planes_come_from_the_footer(
    spark, sf_dir, monkeypatch
):
    """Building embedding_near_dup_pairs runs no count job: its plane count
    is auto_num_planes of the Parquet footer's row count, which equals the
    table's count."""
    from radar_output_restructure_spark import queries_stream
    from radar_output_restructure_spark.operators.similarity import (
        auto_num_planes,
    )

    planes = []
    lsh = queries_stream.lsh_bucket_vectors

    def spy(emb, num_planes, **kwargs):
        planes.append(num_planes)
        return lsh(emb, num_planes=num_planes, **kwargs)

    monkeypatch.setattr(queries_stream, "lsh_bucket_vectors", spy)
    emb = load_table(spark, sf_dir, "embeddings")  # session schema cache
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    queries_stream.q_embedding_near_dup(spark, sf_dir)
    assert set(tracker.getJobIdsForGroup(None)) == jobs
    assert planes == [auto_num_planes(emb.count())]
