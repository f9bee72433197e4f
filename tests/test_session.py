"""The engine's session settings (session.get_spark)."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled


def test_call_site_capture_is_off(spark):
    """PySpark's per-call stack walk and its py4j round trips are off in
    the engine's session (a static setting: `extra_conf` can turn it back
    on for a new session)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
