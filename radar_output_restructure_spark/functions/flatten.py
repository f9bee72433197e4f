"""Schema-walk flattener: nested record -> dot-joined flat columns.

Reproduces the reference's CSV projection (format/CsvAvroDataConverter.kt:20-91,
header derivation format/RecordConverterFactory.kt:120-164):

* RECORD  -> recurse, names joined with '.' (a.b.c)
* MAP     -> one column per key present in the data, `prefix.<key>`
             (data-dependent: the reference derives keys from the first datum;
             we derive the union of keys in the batch, sorted, which matches
             the reference for homogeneous batches — divergence documented in
             SURVEY §7.4.1)
* ARRAY   -> one column per element index `prefix.<i>`, arity = max size in
             the batch (first-datum arity in the reference)
* UNION   -> spark-avro already resolves [null,T] to nullable T; multi-branch
             unions surface as member structs and flatten recursively
* BYTES   -> base64 without padding (rendered mode)
* others  -> scalar column

Two modes:
  rendered=False (analytic): keep native Spark types — this is what every
      downstream operator uses; stays fully inside Catalyst.
  rendered=True (golden CSV parity): every leaf becomes a string with the
      reference's Java renderings (Java double/float toString, base64-no-pad,
      null -> "").

`excluded` drops leaves by their dotted name, the engine's `excludeFields`
(config/FormatConfig.kt:17, format/CsvAvroConverter.kt:43-61).

Materialization: map keys and array arities are data-dependent, so when the
non-excluded schema has map or array leaves `flatten` runs ONE job — the
input stored with `localCheckpoint` while an `Observation` on the same pass
collects the shapes — and projects the stored rows. Whatever consumes the
flat frame (the writer's dedup/repartition job, the cleaner's check where
it needs the dedup survivors) reads those rows instead of re-running the
scan, the Avro decode and the path formatting. The stored blocks belong to the returned frame: Spark's
ContextCleaner releases them once that frame is dropped. Schemas without
map/array leaves get a plain projection and no job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_output_restructure_spark.functions.javafmt import base64_no_pad

SEP = "."  # dotted leaf names: a.b.c


def _render_leaf(col: Column, dtype: T.DataType) -> Column:
    # double/float: Spark's JVM string cast IS java.lang.Double/Float.toString
    # on the same JDK the reference runs (CsvAvroDataConverter.kt:74-78 calls
    # toString), so `cast("string")` gives exact golden parity with zero
    # Python in the hot path — including Java 17's pre-Ryu Float digits
    # (e.g. 1.5e10f -> "1.50000005E10") that a shortest-round-trip
    # reimplementation would get wrong.
    if isinstance(dtype, T.BinaryType):
        return base64_no_pad(col)
    if isinstance(dtype, T.BooleanType):
        return F.when(col, "true").when(~col, "false")
    return col.cast("string")


def _collect_dynamic_paths(
    schema: T.StructType, excluded: set[str]
) -> tuple[list[str], list[str]]:
    """Dotted paths of every non-excluded map / array column, mirroring the
    struct recursion of the flattener walk."""
    maps: list[str] = []
    arrays: list[str] = []

    def walk(path: str, name: str, dtype: T.DataType) -> None:
        dotted = f"{path}{SEP}{name}" if path else name
        if dotted in excluded:
            return
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(dotted, f.name, f.dataType)
        elif isinstance(dtype, T.MapType):
            maps.append(dotted)
        elif isinstance(dtype, T.ArrayType):
            arrays.append(dotted)

    for f in schema.fields:
        walk("", f.name, f.dataType)
    return maps, arrays


def _materialize_shapes(
    df: DataFrame, map_paths: list[str], array_paths: list[str]
) -> tuple[DataFrame, dict[str, list[str]], dict[str, int]]:
    """(stored df, key unions for map columns, max arities for array
    columns), all from ONE job: the aggregates ride on the
    `localCheckpoint` pass as an `Observation`, not as a separate aggregate
    job per column or per frame. Sorted key unions; NULL arrays (`size`
    NULL or -1) and empty frames give arity 0.

    At 100 TB the observation is a per-task partial agg (distinct keys + a
    max per column) merged on the driver, no data shuffle. The stored
    blocks are released by Spark's ContextCleaner once the returned frame
    is dropped.
    """
    aggs = [
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_set(F.map_keys(F.col(p)))))
        ).alias(f"__mk{i}")
        for i, p in enumerate(map_paths)
    ] + [
        F.max(F.size(F.col(p))).alias(f"__aa{i}")
        for i, p in enumerate(array_paths)
    ]
    shapes = Observation()
    stored = df.observe(shapes, *aggs).localCheckpoint()
    row = shapes.get
    keys = {
        p: list(row[f"__mk{i}"] or []) for i, p in enumerate(map_paths)
    }
    arity = {
        p: max(int(row[f"__aa{i}"] or 0), 0) for i, p in enumerate(array_paths)
    }
    return stored, keys, arity


def _flat_columns(
    schema: T.StructType,
    rendered: bool,
    excluded: set[str],
    map_keys: dict[str, list[str]],
    array_arity: dict[str, int],
) -> list[Column]:
    """The flat projection list for `schema`, given the data's shapes."""
    cols: list[Column] = []

    def walk(path: str, name: str, dtype: T.DataType) -> None:
        dotted = f"{path}{SEP}{name}" if path else name
        if dotted in excluded:
            return
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(dotted, f.name, f.dataType)
            return
        if isinstance(dtype, T.MapType):
            for key in map_keys[dotted]:
                leaf_name = f"{dotted}{SEP}{key}"
                if leaf_name in excluded:
                    continue
                # try_element_at: null-safe under ANSI mode for absent keys
                leaf = F.try_element_at(F.col(dotted), F.lit(key))
                if rendered:
                    leaf = _render_leaf(leaf, dtype.valueType)
                cols.append(leaf.alias(leaf_name))
            return
        if isinstance(dtype, T.ArrayType):
            for i in range(array_arity[dotted]):
                leaf_name = f"{dotted}{SEP}{i}"
                if leaf_name in excluded:
                    continue
                # F.get: 0-based, returns null past the end (ANSI-safe)
                leaf = F.get(F.col(dotted), i)
                if isinstance(dtype.elementType, T.StructType):
                    # array<record>: flatten each element's fields
                    for f in dtype.elementType.fields:
                        sub = leaf.getField(f.name)
                        sub_name = f"{leaf_name}{SEP}{f.name}"
                        if sub_name in excluded:
                            continue
                        cols.append(
                            (_render_leaf(sub, f.dataType) if rendered else sub).alias(sub_name)
                        )
                else:
                    if rendered:
                        leaf = _render_leaf(leaf, dtype.elementType)
                    cols.append(leaf.alias(leaf_name))
            return
        leaf = F.col(dotted)
        if rendered:
            leaf = _render_leaf(leaf, dtype)
        cols.append(leaf.alias(dotted))

    for f in schema.fields:
        walk("", f.name, f.dataType)
    return cols


def pruned_struct(
    dtype: T.StructType, excluded: set[str], dotted: str = ""
) -> Column | None:
    """Rebuild a (possibly nested) struct column WITHOUT the excluded dotted
    leaves — the JSON-mode `excludeFields` (JsonAvroDataConverter.kt:24-44
    drops keys in place, preserving nesting, incl. inside maps).

    Returns None when every field of the struct is excluded.
    """
    fields: list[Column] = []
    for f in dtype.fields:
        d = f"{dotted}.{f.name}" if dotted else f.name
        if d in excluded:
            continue
        if isinstance(f.dataType, T.StructType):
            sub = pruned_struct(f.dataType, excluded, d)
            if sub is not None:
                fields.append(sub.alias(f.name))
            continue
        child = F.col(d)
        if isinstance(f.dataType, T.MapType):
            # excludeFields like `value.props.secret` drop single map keys
            bad = [
                e[len(d) + 1 :]
                for e in excluded
                if e.startswith(d + ".") and "." not in e[len(d) + 1 :]
            ]
            if bad:
                child = F.map_filter(child, lambda k, _v: ~k.isin(bad))
        fields.append(child.alias(f.name))
    return F.struct(*fields) if fields else None


def flatten(
    df: DataFrame,
    rendered: bool = False,
    excluded: set[str] | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """Flatten `df` to dot-named leaf columns.

    `keep`: extra (already flat) columns to carry through unchanged, e.g.
    derived partition columns. With map or array leaves this runs the one
    materializing job described in the module docstring; the returned frame
    reads the stored rows.
    """
    excluded = excluded or set()
    keep = keep or []
    map_paths, array_paths = _collect_dynamic_paths(df.schema, excluded)
    map_keys: dict[str, list[str]] = {}
    array_arity: dict[str, int] = {}
    if map_paths or array_paths:
        # store only the top-level columns the projection reads
        df = df.select(
            *[F.col(c) for c in df.columns if c in keep or c not in excluded]
        )
        df, map_keys, array_arity = _materialize_shapes(df, map_paths, array_paths)
    cols = _flat_columns(df.schema, rendered, excluded, map_keys, array_arity)
    return df.select(*[F.col(k) for k in keep], *cols)
