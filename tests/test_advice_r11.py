"""Regression tests for the round-10 ADVICE findings (fixed in round 11).

1. path format (medium): a param repeated across segments (e.g.
   '${projectId}/backup-${projectId}/${topic}/${filename}') must produce
   DISTINCT partition columns — the old code reused pf_projectId for both
   and withColumn silently replaced the first segment's rendering with the
   second's, corrupting the output tree
   (plans/path_format.PathFormat.partition_columns).
2. streaming lock keeper: the renew-error grace window is measured from the
   ACQUIRE timestamp, not keeper-thread start — stream construction can eat
   most of a short TTL before the keeper runs
   (streaming/stream_restructure._keep_and_release).
3. operators/text._marker_hits dead code is deleted (lang_scores uses the
   single-alternation split).
"""

from __future__ import annotations

import threading
import time

import pytest

from radar_output_restructure_spark.streaming.stream_restructure import (
    _keep_and_release,
)


# ---------------------------------------------------------------------------
# 1. repeated params across path segments
# ---------------------------------------------------------------------------


def _df(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [("P1", "u1", "s1", 1580216400.0)],
        "projectId string, userId string, sourceId string, t double",
    ).select(
        F.struct("projectId", "userId", "sourceId").alias("key"),
        F.struct(F.col("t").alias("time")).alias("value"),
        F.lit("t").alias("topic"),
    )


def _event_time(df):
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.col("value.time"))


@pytest.mark.parametrize(
    "fmt",
    [
        "${projectId}/backup-${projectId}/${topic}/${filename}",
        "${projectId}/${projectId}/${topic}/${filename}",
    ],
)
def test_repeated_param_segments_get_distinct_columns(spark, fmt):
    from radar_output_restructure_spark.plans.path_format import PathFormat

    pf = PathFormat(fmt=fmt, extension=".csv")
    df = _df(spark)
    with_cols, names = pf.partition_columns(df, _event_time(df))
    assert len(names) == len(set(names)), f"colliding partition names: {names}"
    row = with_cols.select(*names).first()
    rendered = list(row)[:-1]  # drop the time-bin column
    expected_first_two = (
        ["P1", "backup-P1"] if "backup" in fmt else ["P1", "P1"]
    )
    assert rendered == expected_first_two + ["t"], rendered
    # first occurrence keeps the param-derived name the writers reference
    assert names[0] == "pf_projectId"
    assert "pf_topic" in names


# ---------------------------------------------------------------------------
# 2. keeper grace window measured from acquire time
# ---------------------------------------------------------------------------


class _FakeQuery:
    def __init__(self):
        self._done = threading.Event()
        self.stopped = False

    def awaitTermination(self, timeout):
        return self._done.wait(timeout)

    def stop(self):
        self.stopped = True
        self._done.set()


class _FakeLock:
    def __init__(self, renew_results):
        self._results = list(renew_results)
        self.events: list[str] = []

    def renew(self):
        self.events.append("renew")
        r = self._results.pop(0) if self._results else True
        if isinstance(r, Exception):
            raise r
        return r

    def close(self):
        self.events.append("close")


def test_keeper_grace_window_starts_at_acquire_time():
    """With the lease stamped one full TTL ago (slow stream construction)
    and renew erroring, the keeper must treat the lease as lost IMMEDIATELY
    — not trust it for a further TTL measured from thread start."""
    query = _FakeQuery()
    lock = _FakeLock([IOError("503")] * 10)
    order: list[str] = []
    real_stop, real_close = query.stop, lock.close
    query.stop = lambda: (order.append("stop"), real_stop())[1]
    lock.close = lambda: (order.append("close"), real_close())[1]
    acquired_at = time.monotonic() - 1.2  # lease older than the 0.9 s TTL
    t = threading.Thread(
        target=_keep_and_release,
        args=(query, lock, 0.9, acquired_at),
        daemon=True,
    )
    start = time.monotonic()
    t.start()
    t.join(timeout=5)
    assert not t.is_alive()
    # the old bug waited a further full TTL (~0.9 s of 0.1 s-retries) before
    # giving up; from-acquire accounting stops on the FIRST failed renew
    assert time.monotonic() - start < 0.8
    assert order == ["stop", "close"]
    assert lock.events.count("renew") == 1


def test_keeper_fresh_acquire_still_tolerates_transient_error():
    query = _FakeQuery()
    lock = _FakeLock([IOError("503"), True])
    t = threading.Thread(
        target=_keep_and_release,
        args=(query, lock, 0.9, time.monotonic()),
        daemon=True,
    )
    t.start()
    time.sleep(0.6)  # error retry is ~0.1 s; recovery renew happens fast
    assert not query.stopped
    assert "close" not in lock.events
    query._done.set()
    t.join(timeout=5)
    assert lock.events[-1] == "close"


# ---------------------------------------------------------------------------
# 3. dead _marker_hits removed
# ---------------------------------------------------------------------------


def test_marker_hits_dead_code_removed():
    from radar_output_restructure_spark.operators import text

    assert not hasattr(text, "_marker_hits")
