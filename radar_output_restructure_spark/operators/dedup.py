"""Deduplication operators (SURVEY §2.4, the reference's DISTINCT).

The reference deduplicates *within one output file* on close:

* CSV:  hash each rendered line; keep the LAST occurrence of each distinct
  key, output ordered by last-occurrence position
  (format/CsvAvroConverterFactory.kt:30-86; golden semantics proven by
  CsvAvroConverterTest.kt:230-236 — `1,2 3,4 1,3 3,4 1,2 a,a 3,3`
  -> `1,3 3,4 1,2 a,a 3,3`).
* The distinct key is the full row, a named subset (`distinctFields`,
  CsvAvroConverterFactory.kt:203-221) or everything minus `ignoreFields`.
* JSON-lines: whole-line dedup keeping the FIRST occurrence
  (format/RecordConverterFactory.kt:166-193) — divergent from CSV on purpose.

Spark-first design: both variants are a Window over the distinct-key columns
ordered by an order column (file position / event time / offset). keep-last is
`row_number() over (partition by key order by ord DESC) = 1`; keep-first flips
to ASC. NOT `dropDuplicates()` — its kept row is partition-order dependent,
while this recipe is deterministic and scale-stable (one hash-shuffle on the
key, AQE-skew-splittable; no global sort unless the caller asks to restore
arrival order).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ORD = "__ros_ord"
_RN = "__ros_rn"

OrderBy = "str | Column | Sequence[str | Column]"


def _ord_exprs(order_by) -> list[Column]:
    if isinstance(order_by, (str, Column)):
        order_by = [order_by]
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def key_field_indexes(
    header: Sequence[str],
    distinct: Sequence[str] | None,
    ignore: Sequence[str] | None,
) -> list[int] | None:
    """Indexes of the dedup key's fields in `header`, with the reference's
    fallback order (CsvAvroConverterFactory.fieldIndexes): the distinct
    fields when ALL are present, else header-minus-ignored when ANY ignored
    field is present, else None (the whole record is the key). Shared by
    the restructure transform and the writers' dedup-on-append, so a
    misnamed field falls back the same way in both."""
    if distinct:
        idxs = [header.index(f) if f in header else -1 for f in distinct]
        if -1 not in idxs:
            return idxs
    if ignore:
        drop = {header.index(f) for f in ignore if f in header}
        if drop:
            return [i for i in range(len(header)) if i not in drop]
    return None


def _key_cols(
    df: DataFrame,
    distinct_fields: Sequence[str] | None,
    ignore_fields: Sequence[str] | None,
    exclude: Sequence[str],
) -> list[Column]:
    if distinct_fields:
        return [F.col(f"`{c}`") for c in distinct_fields]
    ignore = set(ignore_fields or ())
    return [F.col(f"`{c}`") for c in df.columns if c not in ignore and c not in exclude]


def _window_dedup(
    df: DataFrame,
    order_by,
    descending: bool,
    distinct_fields: Sequence[str] | None,
    ignore_fields: Sequence[str] | None,
    restore_order: bool,
) -> DataFrame:
    # Multi-column order keys (e.g. kafka partition, offset, intra-file pos)
    # compare lexicographically, matching the reference's per-offset record
    # order regardless of how the file source packed its splits.
    ords = _ord_exprs(order_by)
    names = [f"{_ORD}{i}" for i in range(len(ords))]
    with_ord = df
    for n, c in zip(names, ords):
        with_ord = with_ord.withColumn(n, c)
    keys = _key_cols(with_ord, distinct_fields, ignore_fields, exclude=tuple(names))
    order = [
        F.col(n).desc() if descending else F.col(n).asc() for n in names
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    out = (
        with_ord.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )
    if restore_order:
        out = out.orderBy(*[F.col(n) for n in names])
    return out.drop(*names)


def dedup_keep_last(
    df: DataFrame,
    order_by: str | Column | Sequence,
    distinct_fields: Sequence[str] | None = None,
    ignore_fields: Sequence[str] | None = None,
    restore_order: bool = True,
) -> DataFrame:
    """CSV-file semantics: keep the LAST occurrence per distinct key, output
    ordered by that occurrence's position (`order_by` ascending)."""
    return _window_dedup(
        df, order_by, True, distinct_fields, ignore_fields, restore_order
    )


def dedup_keep_first(
    df: DataFrame,
    order_by: str | Column | Sequence,
    distinct_fields: Sequence[str] | None = None,
    ignore_fields: Sequence[str] | None = None,
    restore_order: bool = True,
) -> DataFrame:
    """JSON-lines semantics: keep the FIRST occurrence per distinct key."""
    return _window_dedup(
        df, order_by, False, distinct_fields, ignore_fields, restore_order
    )
