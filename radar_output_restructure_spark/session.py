"""SparkSession factory tuned for this engine.

Local test runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster (AQE on, UTC session time, Arrow for the few
Pandas-UDF paths). Shuffle partitions default to the local core count — on a
real cluster AQE coalescing makes the static number far less important.

PySpark's DataFrame call-site capture is switched off (`get_spark`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "radar-output-restructure-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session; `extra_conf` entries override any setting.

    `spark.python.sql.dataFrameDebugging.enabled=false` switches off
    PySpark's DataFrame call-site capture. With it on, every Column and
    DataFrame call walks the Python stack and makes five py4j round trips
    (`getActiveSession`, `isDefined`, `conf.get`, `PySparkCurrentOrigin`
    set and clear) to attach its caller's line to the plan. The engine
    builds its plans itself, so that error context would name package
    lines, and a poll cycle (a restructure pass and a cleaner pass) made
    about 1,800 of its 2,700 py4j calls for it. An error keeps its class, its message text and its Python
    traceback; only the `== DataFrame ==` context under the message names
    a JVM frame instead of a Python line."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Parquet scans: keep file-split sizing explicit so huge inputs split
        # and tiny test inputs don't over-parallelize.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the driver-generated testdata uses TIMESTAMP(NANOS); Spark reads it
        # as long with this flag, and sources/tables.py converts to timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no per-call Python stack walk and py4j round trips (docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
