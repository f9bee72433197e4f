"""Loaders for the driver testdata tables (/root/testdata/sf*/*.parquet).

The generator writes TIMESTAMP(NANOS) columns, which Spark's parquet reader
rejects unless `spark.sql.legacy.parquet.nanosAsLong=true` — then they arrive
as long nanos. `load_table` sets the flag (runtime-settable SQL conf),
inspects the file footer with pyarrow, and converts every timestamp[ns]
column back to a proper TimestampType via integer division (`DIV 1000`
— float division would lose precision above 2^53). DuckDB reads the same
columns natively as microsecond timestamps, so both engines see identical
values.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table.

    `spread=True`: repartition up to the cluster's default parallelism when
    the scan would yield fewer partitions — small single-file tables feeding
    CPU-heavy expressions (shingling, hashing) otherwise run on one core. At
    real scale the scan already has >= cores partitions and this is a no-op,
    so the extra shuffle only ever moves data that fits on one core anyway.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    facts = _file_facts(spark, path)
    df = spark.read.schema(facts.schema).parquet(path)
    for col in facts.nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    # Micro-precision parquet timestamps without the UTC-adjusted flag arrive
    # as TIMESTAMP_NTZ; normalize to TimestampType so every consumer sees one
    # timestamp kind regardless of how the generator wrote the column. The
    # session timezone is UTC (session.py), so the cast maps wall-clock values
    # to the same epoch instants DuckDB sees reading the file natively.
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if spread:
        if facts.scan_parts is None:
            facts.scan_parts = df.rdd.getNumPartitions()
        target = spark.sparkContext.defaultParallelism
        if facts.scan_parts < target:
            df = df.repartition(target)
    return df


def table_num_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one testdata table, from its Parquet footer: no Spark
    job, unlike `load_table(...).count()`."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _file_facts(spark, path).num_rows


@dataclass
class _FileFacts:
    """What `load_table` learns about one file in one session: its inferred
    Spark schema, its timestamp[ns] columns, its footer row count and
    (filled on the first `spread` load) its scan partition count. Reading
    without a schema runs one footer-inference job and getNumPartitions
    builds a full RDD conversion plan; neither answer changes until the
    file or the session does."""

    schema: T.StructType
    nanos: list[str]
    num_rows: int
    scan_parts: int | None = None


#: (session id, path, size, mtime_ns) -> that file's `_FileFacts`.
_FILES: dict[tuple[int, str, int, int], _FileFacts] = {}


def _file_facts(spark: SparkSession, path: str) -> _FileFacts:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    st = os.stat(path)
    key = (id(spark._jsparkSession), path, st.st_size, st.st_mtime_ns)
    facts = _FILES.get(key)
    if facts is None:
        with pq.ParquetFile(path) as footer:
            nanos = [
                f.name
                for f in footer.schema_arrow
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            ]
            num_rows = footer.metadata.num_rows
        schema = spark.read.parquet(path).schema
        facts = _FILES[key] = _FileFacts(schema, nanos, num_rows)
    return facts


def dataset_fingerprint(sf_dir: str, names: tuple[str, ...]) -> str:
    """12-hex fingerprint of the named tables' on-disk state (relative
    file names + sizes + mtimes). Cache keys derived from it (persisted
    IVF indexes, bucketed table materializations) can never silently
    reuse artifacts built from different data at the same path."""
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for name in names:
        src = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
        h.update(name.encode())
        if os.path.isdir(src):
            for root, _dirs, files in sorted(os.walk(src)):
                for fn in sorted(files):
                    st = os.stat(os.path.join(root, fn))
                    h.update(
                        f"{os.path.relpath(os.path.join(root, fn), src)}"
                        f":{st.st_size}:{st.st_mtime_ns};".encode()
                    )
        elif os.path.exists(src):
            st = os.stat(src)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]
