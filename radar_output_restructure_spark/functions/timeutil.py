"""Event-time extraction as a Catalyst coalesce cascade.

The reference resolves a record's event time by probing well-known fields in
priority order (reference util/TimeUtil.kt:26-57):

  1. value.time          double epoch-seconds
  2. key.timeStart       double epoch-seconds
  3. key.start           long epoch-MILLIS      (TimeUtil.kt:37-40)
  4. value.dateTime      ISO string ('Z' suffix => Instant, else local-as-UTC,
                         TimeUtil.kt:144-152)
  5. value.date          ISO date => UTC start of day (TimeUtil.kt:136-142)
  6. value.timeReceived  double epoch-seconds
  7. value.timeCompleted double epoch-seconds

Field lookup is case-insensitive (path/RecordPathFactory.kt:143-146) and
union-aware. Missing / unparseable => null, which the path layer renders as
the "unknown-time" segment (path/FixedPathFormatterPlugin.kt:28-33).

Here the cascade compiles to a single `coalesce(...)` Column over whichever
candidate fields exist in the DataFrame schema — fully JVM-side, pushdown- and
codegen-friendly; there is no per-record Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (struct, field, kind) in priority order; struct "" = top level.
_CASCADE: tuple[tuple[str, str, str], ...] = (
    ("value", "time", "epoch_seconds"),
    ("key", "timeStart", "epoch_seconds"),
    ("key", "start", "epoch_millis"),
    ("value", "dateTime", "iso_datetime"),
    ("value", "date", "iso_date"),
    ("value", "timeReceived", "epoch_seconds"),
    ("value", "timeCompleted", "epoch_seconds"),
)


def _find_field(schema: T.StructType, struct: str, name: str) -> str | None:
    """Case-insensitive lookup of `struct.name` in the schema; returns the
    actual dotted column path, or None if absent."""
    fields = schema.fields
    if struct:
        parent = next((f for f in fields if f.name.lower() == struct.lower()), None)
        if parent is None or not isinstance(parent.dataType, T.StructType):
            return None
        inner = next(
            (f for f in parent.dataType.fields if f.name.lower() == name.lower()), None
        )
        if inner is None:
            return None
        return f"{parent.name}.{inner.name}"
    field = next((f for f in fields if f.name.lower() == name.lower()), None)
    return field.name if field else None


def _to_timestamp(col: Column, kind: str) -> Column:
    if kind == "epoch_seconds":
        # double epoch-seconds; timestamp_seconds keeps microsecond precision
        return F.timestamp_seconds(col.cast("double"))
    if kind == "epoch_millis":
        return F.timestamp_millis(col.cast("long"))
    if kind == "iso_datetime":
        # 'Z'-suffixed => instant; otherwise LocalDateTime interpreted at UTC
        # (session timezone is UTC, so to_timestamp handles both).
        return F.to_timestamp(F.regexp_replace(col.cast("string"), "Z$", ""))
    if kind == "iso_date":
        return F.to_timestamp(F.to_date(col.cast("string")))
    raise ValueError(kind)


def event_time(df: DataFrame) -> Column:
    """Build the event-time Column (TimestampType, nullable) for `df`.

    Null when no candidate field exists or all are null — the caller maps null
    to the "unknown-time" path segment.
    """
    candidates: list[Column] = []
    for struct, name, kind in _CASCADE:
        path = _find_field(df.schema, struct, name)
        if path is not None:
            candidates.append(_to_timestamp(F.col(path), kind))
    if not candidates:
        return F.lit(None).cast("timestamp")
    return F.coalesce(*candidates)
