"""The driver boundary, in both directions.

Out: `collect_if_fits`, the one "collect to the driver if it fits, else
distribute" decision, in one Spark job returning one Arrow table. Every
operator with a driver path and a distributed fallback (Lloyd training,
BPE training, near-dup union-find) asks it with its own module-level cap
and takes the distributed loop on `None`. Both paths compute
bit-identical results, and tests prove it by forcing this one function
to decline (tests/test_dual_paths.py).

In: `local_frame`, the one way rows computed on the driver become a
DataFrame again. The rows travel as one Arrow table into a JVM local
relation (a `LocalTableScan`, held in the driver heap), so running the
frame starts no Python worker; `createDataFrame` over a Python list would
plan a pickled Python RDD that every run re-serializes in
`defaultParallelism` worker tasks.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def collect_if_fits(df: DataFrame, cap: int) -> pa.Table | None:
    """All rows of `df` as one driver-side Arrow table, or None when `df`
    holds more than `cap` rows.

    One Spark job: `limit(cap + 1).toArrow()` ships at most cap + 1 rows,
    so the driver never holds more than the cap admits, and a frame that
    comes back with cap + 1 rows is declined. At or under the cap the
    limited collect is the WHOLE frame, so the driver path sees exactly
    the data the distributed path would. Callers read columns
    (`column(..).to_pylist()`, a flattened list column), not Rows, and
    checkpoint their input first, so a declined gate's distributed
    fallback does not recompute the plan.
    """
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """`rows` (tuples in field order) as a DataFrame with exactly `schema`
    (a StructType or a DDL string): NULLs and non-nullable fields kept,
    and no rows giving an empty frame of the same schema."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = pa.struct(to_arrow_schema(schema))
    return spark.createDataFrame(
        pa.Table.from_struct_array(pa.array(rows, type=arrow)), schema
    )
