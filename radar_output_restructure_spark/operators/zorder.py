"""Z-order (Morton-curve) clustering keys — the multi-dimensional
data-skipping lever for write-side layout (Delta/Iceberg OPTIMIZE ZORDER's
core computation, re-expressed as pure Column arithmetic).

A single-column sort clusters min/max file statistics along ONE dimension;
a query filtering the OTHER dimension scans everything. Interleaving the
bits of two dimension keys produces a 1-D sort order in which any
contiguous range of z-values covers a NARROW rectangle of both dimensions
— so per-file min/max stats prune on either predicate. At 100 TB this is
a write-time decision worth a full scan per query thereafter; the operator
itself is MAP-ONLY (five mask-shift steps per dimension, whole-stage
codegen'd), with one groupBy for the bucket-stats audit.

The bit-spread uses the classic magic-number Morton encoding (public
domain "Bit Twiddling Hacks", Stanford graphics); all constants are
interpolated as decimal literals so the SAME expression text parses in
Spark SQL and DuckDB (both support `&`, `|`, `<<` on BIGINT), which makes
the oracle engine-identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (shift, mask) steps that spread a 16-bit value over the even bit
# positions of a 32-bit lane: v = (v | v<<s) & m, applied in order.
_SPREAD_STEPS: list[tuple[int, int]] = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]

Z_BITS = 16  # default bits kept per dimension; z-value fits in 32 bits


def spread_bits_sql(expr: str, bits: int = Z_BITS) -> str:
    """SQL text spreading the low `bits` (<= 16) bits of `expr` to even bit
    positions.

    Pure integer `&`/`|`/`<<` with decimal constants — parses identically
    in Spark SQL and DuckDB, so Spark query and oracle share one string.
    Callers pick `bits` to match the DENSE width of their dimension key
    (a 8-bit-dense key spread as 16 bits leaves the z-space 99% empty and
    every bucket boundary degenerate).
    """
    if not 1 <= bits <= 16:
        # the _SPREAD_STEPS masks only spread a 16-bit value; bits > 16
        # would OR the key's own high bits into an occupied lane and
        # silently collide distinct (x, y) pairs
        raise ValueError(f"spread_bits supports 1..16 bits, got {bits}")
    # BIGINT from the start: DuckDB's `<<` on a 32-bit operand RAISES on
    # overflow (Spark would wrap) — the cast keeps every intermediate in
    # a 64-bit lane in both engines
    out = f"(CAST({expr} AS BIGINT) & {(1 << bits) - 1})"
    for shift, mask in _SPREAD_STEPS:
        if shift >= bits:
            # a step whose shift spans the whole key would smear a COPY of
            # the key into the upper lane (v | v<<8 with v<=0xFF puts v in
            # bytes 0 AND 2) — for an n-bit key only shifts < n split bits
            continue
        out = f"((({out}) | (({out}) << {shift})) & {mask})"
    return out


def z_value_sql(x_expr: str, y_expr: str, bits: int = Z_BITS) -> str:
    """SQL text of the Morton z-value interleaving two `bits`-wide keys
    (x in even bits, y in odd bits)."""
    return (
        f"({spread_bits_sql(x_expr, bits)}"
        f" | ({spread_bits_sql(y_expr, bits)} << 1))"
    )


def z_order_stats(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    bucket_bits: int = 8,
    bits: int = Z_BITS,
) -> DataFrame:
    """(z_bucket, n_rows, min/max of both dimension keys): the file-level
    min/max statistics a z-ordered write would produce, with the corpus
    cut into 2^bucket_bits equal z-ranges ("files").

    This is the audit a table optimizer runs to decide whether a layout
    skips well: tight per-bucket [min,max] on BOTH dimensions means either
    predicate prunes most buckets. Map-only z-value + one groupBy(bucket)
    (map-side combined, 2^bucket_bits groups — driver-tiny output no
    matter the corpus size).
    """
    zshift = 2 * bits - bucket_bits
    if zshift < 0:
        # a negative shift count has DIVERGENT engine semantics (Spark
        # masks mod 64, DuckDB errors): more bucket bits than z bits means
        # the caller wants finer buckets than the z-space has
        raise ValueError(
            f"bucket_bits ({bucket_bits}) must be <= 2*bits ({2 * bits})"
        )
    mask = (1 << bits) - 1
    return (
        df.select(
            F.expr(f"({x_expr}) & {mask}").alias("__x"),
            F.expr(f"({y_expr}) & {mask}").alias("__y"),
            F.expr(
                f"({z_value_sql(x_expr, y_expr, bits)}) >> {zshift}"
            ).alias("z_bucket"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__x").alias("min_x"),
            F.max("__x").alias("max_x"),
            F.min("__y").alias("min_y"),
            F.max("__y").alias("max_y"),
        )
    )


def z_order_stats_sql(
    table_expr: str,
    x_expr: str,
    y_expr: str,
    bucket_bits: int = 8,
    bits: int = Z_BITS,
) -> str:
    """DuckDB oracle for `z_order_stats` — the SAME spread/interleave
    expression text, grouped the same way."""
    zshift = 2 * bits - bucket_bits
    if zshift < 0:
        # a negative shift count has DIVERGENT engine semantics (Spark
        # masks mod 64, DuckDB errors): more bucket bits than z bits means
        # the caller wants finer buckets than the z-space has
        raise ValueError(
            f"bucket_bits ({bucket_bits}) must be <= 2*bits ({2 * bits})"
        )
    mask = (1 << bits) - 1
    return f"""
    SELECT ({z_value_sql(x_expr, y_expr, bits)} >> {zshift}) AS z_bucket,
           count(*) AS n_rows,
           min(({x_expr}) & {mask}) AS min_x,
           max(({x_expr}) & {mask}) AS max_x,
           min(({y_expr}) & {mask}) AS min_y,
           max(({y_expr}) & {mask}) AS max_y
    FROM {table_expr}
    GROUP BY 1
    """
