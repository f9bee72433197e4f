"""Unit tests for the pure Column builders (SURVEY §2.2 P1/P8, §1.1)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from radar_output_restructure_spark.functions.flatten import flatten
from radar_output_restructure_spark.functions.javafmt import _java_double_str, _java_float_str
from radar_output_restructure_spark.functions.sanitize import sanitize_id
from radar_output_restructure_spark.functions.timeutil import event_time


def test_event_time_cascade_priority(spark):
    # value.time wins over key.timeStart over value.timeReceived; millis for key.start
    df = spark.createDataFrame(
        [
            Row(key=Row(timeStart=2.0, start=3000), value=Row(time=1.5, timeReceived=9.0)),
            Row(key=Row(timeStart=2.0, start=3000), value=Row(time=None, timeReceived=9.0)),
            Row(key=Row(timeStart=None, start=3000), value=Row(time=None, timeReceived=9.0)),
            Row(key=Row(timeStart=None, start=None), value=Row(time=None, timeReceived=9.0)),
            Row(key=Row(timeStart=None, start=None), value=Row(time=None, timeReceived=None)),
        ]
    )
    out = [r[0] for r in df.select(event_time(df)).collect()]
    epoch = dt.timezone.utc

    def ts(s):
        return dt.datetime.fromtimestamp(s, tz=epoch).replace(tzinfo=None)

    assert out == [ts(1.5), ts(2.0), ts(3.0), ts(9.0), None]


def test_event_time_case_insensitive_and_iso(spark):
    df = spark.createDataFrame(
        [Row(VALUE=Row(TIME=None, dateTime="2021-01-02T10:00:00Z"))],
        schema="VALUE struct<TIME: double, dateTime: string>",
    )
    out = df.select(event_time(df)).first()[0]
    assert out == dt.datetime(2021, 1, 2, 10, 0, 0)


def test_sanitize_id(spark):
    df = spark.createDataFrame(
        [Row(x="a b/c!"), Row(x="...."), Row(x=None), Row(x="ok_1-Z")]
    )
    out = [r[0] for r in df.select(sanitize_id("x", "unknown-user")).collect()]
    assert out == ["abc", "unknown-user", "unknown-user", "ok_1-Z"]


def test_java_double_repr_matches_reference_goldens():
    # goldens from the reference integration test + full.json fixture
    assert _java_double_str(1580219820.03) == "1.58021982003E9"
    assert _java_double_str(1.21322421e-15) == "1.21322421E-15"
    assert _java_double_str(1000.0) == "1000.0"
    assert _java_double_str(0.001) == "0.001"
    assert _java_double_str(0.0001) == "1.0E-4"
    assert _java_double_str(10000000.0) == "1.0E7"
    assert _java_double_str(-2.5) == "-2.5"
    assert _java_float_str(0.1213231) == "0.1213231"


def test_flatten_struct_map_array(spark):
    df = spark.createDataFrame(
        [
            Row(
                key=Row(projectId="p", userId="u"),
                value=Row(nested=Row(x=1), m={"some": 5, "other": 6}, arr=["a", "b"]),
            ),
            Row(
                key=Row(projectId="p2", userId="u2"),
                value=Row(nested=Row(x=2), m={"some": 7}, arr=["c"]),
            ),
        ]
    )
    flat = flatten(df)
    assert flat.columns == [
        "key.projectId",
        "key.userId",
        "value.nested.x",
        "value.m.other",
        "value.m.some",
        "value.arr.0",
        "value.arr.1",
    ]
    rows = flat.orderBy(F.col("`key.projectId`")).collect()
    assert rows[0]["value.m.some"] == 5 and rows[0]["value.arr.1"] == "b"
    assert rows[1]["value.m.other"] is None and rows[1]["value.arr.1"] is None


def test_flatten_rendered_and_excluded(spark):
    df = spark.createDataFrame(
        [Row(b=bytearray(b"\xff"), d=1.21322421e-15, g=132101, h=None, m=False)],
        schema="b binary, d double, g int, h string, m boolean",
    )
    flat = flatten(df, rendered=True, excluded={"h"})
    row = flat.first()
    assert flat.columns == ["b", "d", "g", "m"]
    assert row["b"] == "/w"  # base64 of 0xFF without padding
    assert row["d"] == "1.21322421E-15"
    assert row["g"] == "132101"
    assert row["m"] == "false"


def _jobs_in(spark, group: str, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_flatten_header_derivation_single_job(spark):
    """Map-key unions and array arities for ALL dynamic columns come from the
    ONE job that stores flatten's input (an Observation on the
    localCheckpoint pass), not one job per column (100-TB listing cost);
    the flat frame then reads the stored rows."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(m1={"a": 1}, m2={"x": "u"}, a1=[1, 2, 3], a2=["p"],
                v=Row(inner_m={"k": 2.0}, inner_a=[True, False])),
            Row(m1={"b": 2}, m2={}, a1=[4], a2=[],
                v=Row(inner_m={"j": 3.0}, inner_a=[True])),
        ],
        "m1 map<string,long>, m2 map<string,string>, a1 array<long>, "
        "a2 array<string>, v struct<inner_m: map<string,double>, "
        "inner_a: array<boolean>>",
    )
    flat, jobs = _jobs_in(spark, "flatten-shape-test", lambda: flatten(df))
    # the materializing job alone; the per-column regression would be >= 6
    # here (6 dynamic columns), a separate aggregate 2-3
    assert jobs == 1, f"expected one materializing job, saw {jobs}"
    names = flat.columns
    assert "m1.a" in names and "m1.b" in names and "m2.x" in names
    assert "a1.0" in names and "a1.2" in names and "a2.0" in names
    assert "v.inner_m.k" in names and "v.inner_a.1" in names
    assert "LogicalRDD" in flat._jdf.queryExecution().optimizedPlan().toString()


def test_flatten_shape_edge_cases(spark):
    """Key unions come out sorted; empty frames, empty maps and all-NULL
    arrays (`size` NULL or -1) give no map columns and arity 0; an excluded
    dynamic column runs no job and stores nothing."""
    src = spark.range(3).select(
        F.col("id").alias("x"),
        F.create_map(
            F.when(F.col("id") == 0, F.lit("z")).otherwise(F.lit("b")),
            F.col("id"),
        ).alias("m"),
        F.when(F.col("id") == 1, F.array(F.col("id"), F.col("id")))
        .otherwise(F.array())
        .alias("a"),
    )
    flat, n = _jobs_in(spark, "flatten-sorted", lambda: flatten(src))
    assert n == 1
    assert flat.columns == ["x", "m.b", "m.z", "a.0", "a.1"]
    assert sorted(tuple(r) for r in flat.collect()) == [
        (0, None, 0, None, None), (1, 1, None, 1, 1), (2, 2, None, None, None),
    ]

    # Catalyst folds this to an empty relation: the checkpoint has no
    # partitions to run, and the observation still reports empty shapes
    empty = src.where(F.lit(False))
    flat = flatten(empty)
    assert flat.columns == ["x"] and flat.count() == 0

    hollow = spark.range(2).select(
        F.col("id").alias("x"),
        F.create_map().cast("map<string,long>").alias("m"),
        F.lit(None).cast("array<long>").alias("a"),
    )
    flat = flatten(hollow)
    assert flat.columns == ["x"] and flat.count() == 2

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    flat, n = _jobs_in(
        spark, "flatten-excluded", lambda: flatten(src, excluded={"m", "a"})
    )
    assert n == 0 and flat.columns == ["x"]
    assert "LogicalRDD" not in plan(flat) and "Range" in plan(flat)
