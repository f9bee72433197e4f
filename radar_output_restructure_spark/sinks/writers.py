"""The exact-name output-tree writer with schema sidecars (SURVEY §2.1 S10-S13).

The reference writes one file per record-group at an exact path
(`<project>/<user>/<topic>/<timebin>[_N].csv[.gz]`) plus a write-once
`schema-<topic>.json` sidecar (worker/FileCacheStore.kt:131-151), appending to
existing files across runs (worker/FileCache.kt:82-125), through whichever
target storage is configured. Spark's native writer controls directories,
not file names, so `write_output_tree_direct` is the one writer: one shuffle
by the path segments, a sort within partitions by (path, arrival order),
then one partition loop that writes every file of its partition in place
through the storage backend's atomic store. The loop runs in one of two
places, chosen by `storage.executor_safe` in `run_partition_loop` (the
cleaner's extraction check runs its per-target loop there too):

* executor-safe storage (local, `s3://`, `azure://`): `mapInPandas` on the
  executors, one Arrow round-trip per task, not per file;
* driver-only storage (`HadoopTargetStorage`: `file://`, `s3a://`, `abfs://`,
  `hdfs://`, whose py4j handle cannot leave the driver): the same loop on
  the driver, fed one partition at a time through `toLocalIterator`.

Both places append across runs (late data, SURVEY ST3), write plain, gzip or
zip CSV/JSON and parquet, and emit write-once schema sidecars.
"""

from __future__ import annotations

import csv
import gzip
import io
import itertools
import json
import os
import shutil
import threading
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_output_restructure_spark.sinks.storage import (
    LocalTargetStorage,
    TargetStorage,
)


def _avro_schema_json(schema: T.StructType, topic: str) -> str:
    """Render a StructType as an Avro-record schema JSON (the sidecar body).

    Inverse of spark-avro's mapping for the types the engine emits.
    """

    def avro_type(dt: T.DataType, path: str = "record") -> object:
        if isinstance(dt, T.StructType):
            # each nested record gets a UNIQUE name derived from its field
            # path: Avro fullnames are global, so two struct fields both
            # named "record" (e.g. the key+value topic shape) would make
            # the sidecar unparseable ("Can't redefine: record")
            return {
                "type": "record",
                "name": path,
                "fields": [
                    {
                        "name": f.name,
                        "type": _nullable(
                            avro_type(f.dataType, f"{path}_{f.name}"),
                            f.nullable,
                        ),
                    }
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "array",
                "items": avro_type(dt.elementType, f"{path}_item"),
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "values": avro_type(dt.valueType, f"{path}_value"),
            }
        mapping = {
            T.StringType: "string",
            T.LongType: "long",
            T.IntegerType: "int",
            T.DoubleType: "double",
            T.FloatType: "float",
            T.BooleanType: "boolean",
            T.BinaryType: "bytes",
            T.TimestampType: {"type": "long", "logicalType": "timestamp-micros"},
            T.DateType: {"type": "int", "logicalType": "date"},
        }
        for klass, name in mapping.items():
            if isinstance(dt, klass):
                return name
        return "string"

    def _nullable(t: object, nullable: bool) -> object:
        return ["null", t] if nullable else t

    top = {
        "type": "record",
        "name": topic,
        "fields": [
            {
                "name": f.name,
                "type": _nullable(avro_type(f.dataType, f.name), f.nullable),
            }
            for f in schema.fields
        ],
    }
    return json.dumps(top, indent=2)


def _field_indexes(
    header: list[str],
    distinct: list[str] | None,
    ignore: list[str] | None,
) -> list[int] | None:
    """Key-column indexes for file-level dedup, with the reference's
    fallback order (CsvAvroConverterFactory.fieldIndexes): the distinct
    fields when ALL are present, else header-minus-ignored when ANY ignored
    field is present, else None (whole record is the key)."""
    if distinct:
        idxs = [header.index(f) if f in header else -1 for f in distinct]
        if -1 not in idxs:
            return idxs
    if ignore:
        drop = {header.index(f) for f in ignore if f in header}
        if drop:
            return [i for i in range(len(header)) if i not in drop]
    return None


def _dedup_csv_content(
    old: bytes,
    new: bytes,
    distinct: list[str] | None,
    ignore: list[str] | None,
) -> bytes:
    """Keep-LAST whole-file dedup of a rendered CSV target + its appended
    batch — reference parity with CsvAvroConverterFactory.deduplicate
    (key = md5 of the selected fields there, the field tuple here; keep the
    LAST occurrence; emit survivors in their original record order).

    `old` carries the header; `new` is headerless (the append payload).
    Raw lines are preserved byte-for-byte when no record contains a quote;
    quoted records (embedded commas/newlines) take the csv-module path and
    re-serialize with the same RFC4180 doubling the Spark writer uses.
    Memory is the whole file — bounded by one user-hour of one topic, the
    same invariant the reference's in-memory line map relies on."""
    text_old, text_new = old.decode(), new.decode()
    if '"' not in text_old and '"' not in text_new:
        lines = [ln for ln in text_old.split("\n") if ln != ""]
        header_line, body = lines[0], lines[1:]
        body += [ln for ln in text_new.split("\n") if ln != ""]
        header = header_line.split(",")
        idxs = _field_indexes(header, distinct, ignore)
        last: dict = {}
        for i, ln in enumerate(body):
            f = ln.split(",")
            # guard short/truncated lines in an existing target the same
            # way the quoted csv-module path does, instead of IndexError
            key = (
                ln
                if idxs is None
                else tuple(f[j] if j < len(f) else "" for j in idxs)
            )
            last[key] = i
        kept = sorted(last.values())
        return ("\n".join([header_line, *(body[i] for i in kept)]) + "\n").encode()
    rows_old = list(csv.reader(io.StringIO(text_old)))
    header = rows_old[0]
    body_rows = rows_old[1:] + list(csv.reader(io.StringIO(text_new)))
    idxs = _field_indexes(header, distinct, ignore)
    last = {}
    for i, row in enumerate(body_rows):
        key = tuple(row) if idxs is None else tuple(
            row[j] if j < len(row) else "" for j in idxs
        )
        last[key] = i
    kept = sorted(last.values())
    sink = io.StringIO()
    w = csv.writer(sink, lineterminator="\n")
    w.writerow(header)
    for i in kept:
        w.writerow(body_rows[i])
    return sink.getvalue().encode()


def _dedup_json_content(old: bytes, new: bytes) -> bytes:
    """Keep-FIRST whole-line dedup of a JSON-lines target + its appended
    batch (reference RecordConverterFactory.readFile's LinkedHashSet)."""
    seen: set[str] = set()
    out: list[str] = []
    for ln in [*old.decode().split("\n"), *new.decode().split("\n")]:
        if ln != "" and ln not in seen:
            seen.add(ln)
            out.append(ln)
    return ("\n".join(out) + "\n").encode()


def decompress(data: bytes, compression: str | None) -> bytes:
    """Content of one target file's bytes: gunzip (all members), the single
    zip entry, or the bytes as they are."""
    if compression == "gzip":
        return gzip.decompress(data)
    if compression == "zip":
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            return zf.read(zf.namelist()[0])
    return data


def _write_full_content(
    final: str,
    content: bytes,
    compression: str | None,
    storage: TargetStorage,
) -> None:
    """Atomically REPLACE the target with `content` (the dedup-rewrite
    publish — the reference's dedupTmp -> tmpPath atomic move)."""
    if compression == "gzip":
        content = gzip.compress(content)
        storage.store_atomic(final, content)
        return
    if compression == "zip":
        entry = os.path.basename(final)[: -len(".zip")]
        with storage.store_atomic_writer(final) as out, zipfile.ZipFile(
            out, "w", zipfile.ZIP_DEFLATED, compresslevel=ZIP_LEVEL
        ) as zf:
            zf.writestr(entry, content)
        return
    storage.store_atomic(final, content)


_FMT_EXT = {"csv": ".csv", "json": ".json", "parquet": ".parquet"}
_COMP_EXT = {None: "", "gzip": ".gz", "zip": ".zip"}
#: parquet compresses internally — the compression param maps to the codec
#: and the filename stays .parquet
_PARQUET_CODEC = {None: "snappy", "gzip": "gzip"}
ZIP_LEVEL = 7  # compression/ZipCompression.kt:17


def output_extension(fmt: str, compression: str | None) -> str:
    """`<format ext><compression ext>` of a target file, after checking
    that the format and compression exist and pair up."""
    if fmt not in _FMT_EXT:
        raise ValueError(
            f"unknown output_format {fmt!r}; use one of {sorted(_FMT_EXT)}"
        )
    if compression not in _COMP_EXT:
        raise ValueError(
            f"unknown compression {compression!r}; "
            f"use one of {sorted(_COMP_EXT, key=str)}"
        )
    if fmt != "parquet":
        return _FMT_EXT[fmt] + _COMP_EXT[compression]
    if compression not in _PARQUET_CODEC:
        raise ValueError(
            f"compression {compression!r} is not a parquet codec; "
            "use None (snappy) or 'gzip'"
        )
    return _FMT_EXT[fmt]


def _store_payload(
    final: str,
    payload: bytes,
    compression: str | None,
    storage: TargetStorage,
    dedup: tuple[list | None, list | None] | None = None,
    fmt: str = "csv",
    exists: bool | None = None,
) -> None:
    """Atomically store/append `payload` at `final` through the storage
    backend (the reference's FileCache store protocol: full new content is
    staged, then published atomically). gzip appends a new member; zip
    (single-entry archive, level 7) is rewritten with old+new content.
    `exists` is the caller's answer to `storage.exists(final)`, when it
    already has one (one metadata request per target on object stores).

    The existing target is STREAMED, never materialized: plain/gzip appends
    chunk-copy the old bytes into the staged file, and the zip rewrite pipes
    the old entry's decompressed stream straight into the new archive's
    entry stream (`ZipFile.open(mode="w")`). Peak memory is one copy chunk
    plus the (group-bounded) new payload, independent of target size."""
    if exists is None:
        exists = storage.exists(final)
    if exists and dedup is not None and fmt in ("csv", "json"):
        # dedup-enabled append rewrites the WHOLE file old+new (reference
        # FileCache.closeAndJoin runs deduplicate() over the tmp copy of
        # the full target) — the dedup-on-append mitigation for the
        # write-then-commit at-least-once window: a crash-replayed batch's
        # rows collapse into the survivors instead of accumulating.
        # Memory: the one user-hour file, the reference's own invariant.
        old_content = decompress(storage.read(final), compression)
        if fmt == "csv":
            content = _dedup_csv_content(old_content, payload, dedup[0], dedup[1])
        else:
            content = _dedup_json_content(old_content, payload)
        _write_full_content(final, content, compression, storage)
        return
    if compression == "zip":
        entry = os.path.basename(final)[: -len(".zip")]
        # force_zip64: the writer stream is non-seekable, so zipfile cannot
        # patch the header when the combined old+new entry crosses 4 GiB —
        # exactly the unbounded-append case this streaming path exists for
        with storage.store_atomic_writer(final) as out, zipfile.ZipFile(
            out, "w", zipfile.ZIP_DEFLATED, compresslevel=ZIP_LEVEL
        ) as zf, zf.open(entry, "w", force_zip64=True) as w:
            if exists:
                with storage.open_seekable(final) as old_fh, zipfile.ZipFile(
                    old_fh
                ) as old_zf, old_zf.open(old_zf.namelist()[0]) as r:
                    shutil.copyfileobj(r, w, 1 << 20)
            w.write(payload)
        return
    if compression == "gzip":
        payload = gzip.compress(payload, 9)  # fresh member per append

    def chunks():
        if exists:
            yield from storage.open_read_chunks(final)
        yield payload

    storage.store_atomic_stream(final, chunks())


def write_output_tree_direct(
    df: DataFrame,
    out_dir: str,
    partition_cols: list[str],
    fmt: str = "csv",
    compression: str | None = None,
    extension: str | None = None,
    topic_col: str = "pf_topic",
    value_schema: T.StructType | None = None,
    order_col: str | list[str] | None = None,
    line_col: str = "line",
    storage: TargetStorage | None = None,
    dedup: tuple[list | None, list | None] | None = None,
) -> list[str]:
    """Write `df` as the exact-name output tree; returns the final paths.

    `dedup=(distinct_fields, ignore_fields)` enables whole-file dedup on
    APPEND (reference FileCache.closeAndJoin parity): the existing target
    and the new batch dedup together — keep-last by the selected CSV
    fields / keep-first by whole JSON line — so re-appended rows (late
    data replays, the write-then-commit crash window) collapse instead of
    accumulating. Field names are the RENDERED (dot-joined) header names.

    fmt="csv": every non-partition column of `df` must already be a rendered
    string (flatten(rendered=True)) — the JVM cast did the Java-toString
    work, so this function only joins cells. fmt="json": `df` carries ONE
    pre-rendered `line_col` (a to_json JSON-lines string per record, nesting
    preserved — format/JsonAvroConverter.kt:30-60) and no header is written.

    One shuffle, then the partition loop writes each group straight to its
    final `<project>/<user>/<topic>/<timebin>.csv[.gz|.zip]` path with an
    atomic tmp+rename (the reference's own temp-file->store protocol,
    worker/FileCache.kt:79,152-186) — no N-file Spark commit, no stage tree.
    Appends to a pre-existing target by copying it into the tmp file first
    (append semantics incl. late data, SURVEY ST3). The loop runs on the
    executors for executor-safe storage and on the driver otherwise (see
    the module docstring).

    Group size is bounded by one user-hour of one topic (same invariant the
    reference relies on for its per-file dedup buffer), so the pandas
    materialization per group is small at any total scale. A task retried
    *after* its rename commits would re-append — the same exposure the
    reference has between store and accounting commit; the run-level
    manifest makes whole-run retries safe.
    """
    default_extension = output_extension(fmt, compression)  # validates
    extension = default_extension if extension is None else extension
    storage = storage if storage is not None else LocalTargetStorage()
    order_cols = (
        [order_col] if isinstance(order_col, str) else list(order_col or [])
    )
    key_cols = list(partition_cols)
    if fmt == "json":
        header_names = [line_col]
    else:
        header_names = [
            c
            for c in df.columns
            if c not in set(key_cols) and c not in set(order_cols)
        ]
    csv_header_line: str | None = None
    if fmt == "csv":
        # Render the WHOLE CSV line JVM-side (exact csv.QUOTE_MINIMAL
        # semantics: a cell quotes iff it contains the delimiter, the quote
        # char, or a CR/LF; quotes double inside). flatten(rendered=True)
        # already Java-rendered every cell to a string, so the writer's
        # Python work collapses from a csv.writer pass over every cell to a
        # single '\n'.join over pre-built lines — the cell loop runs in
        # whole-stage codegen instead. At bench density (~55 rows/file) the
        # file-create syscalls dominate and this is timing-neutral; the win
        # scales with rows-per-file, which is exactly the regime real
        # deployments (device-rate topics, hourly bins) sit in.
        hdr_buf = io.StringIO()
        csv.writer(
            hdr_buf, lineterminator="", quoting=csv.QUOTE_MINIMAL
        ).writerow(header_names)
        csv_header_line = hdr_buf.getvalue()

        # one parsed SQL string instead of ~15 py4j Column calls per column
        # (measured ~0.45 s of pure plan construction at 6 columns under
        # load); arithmetic identical — QUOTE_MINIMAL: quote iff the cell
        # contains the delimiter, the quote char, or CR/LF, doubling quotes
        # inside. CR/LF are spelled char(10)/char(13) rather than '\n'/'\r'
        # string literals (r12 ADVICE): with
        # spark.sql.parser.escapedStringLiterals=true (Hive-compat) the
        # backslash forms parse as two-character sequences and real
        # newlines would silently go unquoted; char() is parser-config
        # independent.
        def _csv_cell_sql(name: str) -> str:
            q = name.replace("`", "``")
            cell = f"coalesce(`{q}`, '')"
            needs = (
                f"contains({cell}, ',') OR contains({cell}, '\"') "
                f"OR contains({cell}, char(10)) OR contains({cell}, char(13))"
            )
            quoted = f"concat('\"', replace({cell}, '\"', '\"\"'), '\"')"
            return f"CASE WHEN {needs} THEN {quoted} ELSE {cell} END"

        line_expr = F.expr(
            "concat_ws(','"
            + "".join(f", {_csv_cell_sql(c)}" for c in header_names)
            + ")"
        )
        data_cols = ["_c0"]
        safe = df.select(
            *[F.col(f"`{c}`") for c in key_cols],
            line_expr.alias("_c0"),
            *[F.col(f"`{c}`") for c in order_cols],
        )
    else:
        # pandas batches resolve columns by name, which breaks on literal
        # dotted names (`key.projectId`); ship positional safe names and
        # restore the dotted header inside the writer.
        data_cols = [f"_c{i}" for i in range(len(header_names))]
        rename = dict(zip(header_names, data_cols))
        keep = key_cols + header_names + order_cols
        safe = df.select(
            *[
                F.col(f"`{c}`").alias(rename.get(c, c))
                for c in df.columns
                if c in set(keep)
            ]
        )
    topic_idx = key_cols.index(topic_col) if topic_col in key_cols else None
    sidecar_obj: dict | None = None
    if value_schema is not None and topic_idx is not None:
        # schema rendered ONCE driver-side; the per-group topic name is
        # swapped into the parsed object and re-dumped so a topic value
        # containing '"' or '\\' is JSON-escaped correctly (a str.replace
        # into the serialized body would inject raw quotes and produce an
        # unparseable sidecar)
        sidecar_obj = json.loads(
            _avro_schema_json(value_schema, "__TOPIC_PLACEHOLDER__")
        )
    arrow_schema = None
    if fmt == "parquet":
        # Spark-typed Arrow schema for the data columns (dotted names kept):
        # coercing each group's pandas frame back through it undoes pandas'
        # nullable-int -> float widening so the parquet files carry the
        # plan's types, not the Arrow-batch approximations.
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(
                T.StructType([df.schema[c] for c in header_names])
            )
        except Exception:
            arrow_schema = None

    def write_group(keys, pdf, cache):
        # NULL partition values take Spark's own Hive token: '' would be
        # DROPPED by os.path.join, silently collapsing one tree level (a
        # null project would land its file inside the user directory); the
        # token keeps the output names stable across versions
        segs = [
            "__HIVE_DEFAULT_PARTITION__" if k is None else str(k)
            for k in keys
        ]
        *dir_segs, bin_seg = segs
        final_dir = os.path.join(out_dir, *dir_segs)
        # Per-partition directory cache (r11-VERDICT #9): a task writes many
        # bins into the same directory (72 per dir at bench density), so
        # makedirs and the write-once sidecar check run once per DIRECTORY
        # instead of once per output file — a syscall locally, a metadata
        # round-trip per file on object storage. Output bytes unchanged.
        if final_dir not in cache["dirs"]:
            storage.makedirs(final_dir)
            cache["dirs"].add(final_dir)
        final = os.path.join(final_dir, bin_seg + extension)
        exists = storage.exists(final)
        if fmt == "parquet":
            # typed columnar target: append = read old footer + concat +
            # atomic rewrite (parquet cannot append in place; the group and
            # the bin-sized old file are both bounded)
            import pyarrow as pa
            import pyarrow.parquet as pq

            body = pdf[data_cols].copy()
            body.columns = header_names
            table = pa.Table.from_pandas(body, preserve_index=False)
            if arrow_schema is not None:
                try:
                    table = table.cast(arrow_schema)
                except Exception:
                    pass
            if exists:
                old = pq.read_table(io.BytesIO(storage.read(final)))
                table = pa.concat_tables([old, table])
            sink = io.BytesIO()
            pq.write_table(
                table, sink, compression=_PARQUET_CODEC[compression]
            )
            storage.store_atomic(final, sink.getvalue())
        else:
            lines = "\n".join(pdf[data_cols[0]].tolist()) + "\n"
            if fmt == "csv" and not exists:
                lines = csv_header_line + "\n" + lines
            _store_payload(
                final, lines.encode(), compression, storage,
                dedup=dedup, fmt=fmt, exists=exists,
            )
        if sidecar_obj is not None:
            topic = segs[topic_idx]
            sidecar = os.path.join(final_dir, f"schema-{topic}.json")
            if sidecar not in cache["sidecars"]:
                if not storage.exists(sidecar):
                    body = dict(sidecar_obj, name=topic)
                    storage.store_atomic(
                        sidecar, json.dumps(body, indent=2).encode()
                    )
                cache["sidecars"].add(sidecar)
        return final

    # One Arrow round-trip per PARTITION, not per output file: repartition on
    # the path key, sort within partitions by (key, arrival order), then a
    # mapInPandas pass slices each batch at key boundaries and writes every
    # complete file it sees, buffering only the group that spans a batch
    # boundary. At thousands of files per task this removes the per-group
    # Python/Arrow dispatch that dominated the applyInPandas formulation
    # (measured ~40% faster warm at 7200 files), with identical output bytes.
    shuffled = safe.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *key_cols, *order_cols
    )

    def write_partition(batches):
        import pandas as pd

        pending_key: tuple | None = None
        pending: list[pd.DataFrame] = []
        paths: list[str] = []

        cache = {"dirs": set(), "sidecars": set()}

        def flush():
            if pending_key is None:
                return
            pdf = pending[0] if len(pending) == 1 else pd.concat(pending)
            paths.append(write_group(pending_key, pdf, cache))
            pending.clear()

        for pdf in batches:
            if pdf.empty:
                continue
            keys_df = pdf[key_cols]
            shifted = keys_df.shift()
            boundary = (
                (keys_df != shifted) & ~(keys_df.isna() & shifted.isna())
            ).any(axis=1)
            boundary.iloc[0] = True
            for _, chunk in pdf.groupby(boundary.cumsum(), sort=False):
                first = chunk.iloc[0]
                key = tuple(
                    None if pd.isna(first[c]) else first[c] for c in key_cols
                )
                if key != pending_key:
                    flush()
                    pending_key = key
                pending.append(chunk)
        flush()
        yield pd.DataFrame({"path": pd.Series(paths, dtype=object)})

    # AQE coalesces shuffle partitions by BYTE size, but this stage's cost is
    # per-output-FILE (open/rename/sidecar), not per byte — a few MB of
    # rendered rows can fan out to thousands of files, and coalescing to one
    # partition serializes them (measured 3x slower at 7200 files).
    return sorted(
        run_partition_loop(
            shuffled, write_partition, "path", storage, coalesce=False
        )
    )


def run_partition_loop(
    df: DataFrame,
    loop,
    column: str,
    storage: TargetStorage,
    coalesce: bool = True,
) -> list[str]:
    """Run a partition loop over `df` where `storage` can be reached;
    returns the values of the one string `column` it yields.

    `loop` takes an iterator of pandas frames (a partition's rows in order)
    and yields pandas frames. On executor-safe storage it runs as
    `mapInPandas` on the executors. On driver-only storage (py4j handles)
    the same loop runs on the driver, fed one partition at a time through
    `toLocalIterator`, so driver memory holds one partition's rows plus one
    chunk, never the whole frame. The writer and the cleaner's extraction
    check both call this: `storage.executor_safe` is read here only.

    `coalesce=False` keeps AQE from coalescing the shuffle partitions on
    the executors, for a loop whose cost is per FILE it writes, not per byte
    (see `write_output_tree_direct`)."""
    if not storage.executor_safe:
        return [v for pdf in loop(_local_chunks(df)) for v in pdf[column]]
    result = df.mapInPandas(loop, f"{column} string")
    if coalesce:
        return [r[0] for r in result.collect()]
    with _aqe_coalesce_disabled(df.sparkSession):
        return [r[0] for r in result.collect()]


def _local_chunks(df: DataFrame, rows: int = 10_000):
    """`df`'s rows in order as pandas frames of up to `rows` rows, read on
    the driver one partition at a time (`toLocalIterator`)."""
    import pandas as pd

    it = df.toLocalIterator()
    while chunk := list(itertools.islice(it, rows)):
        yield pd.DataFrame.from_records(chunk, columns=df.columns)


#: reference-counted scope-disable of AQE partition coalescing: the session
#: conf is global, so concurrent direct-writer collects share one disable
#: window; the first thread in saves the previous value, the last one out
#: restores it.
_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, tuple[int, str]] = {}  # session id -> (refcount, prev)


class _aqe_coalesce_disabled:
    _KEY = "spark.sql.adaptive.coalescePartitions.enabled"

    def __init__(self, spark):
        self._spark = spark
        self._sid = id(spark._jsparkSession)

    def __enter__(self):
        with _AQE_LOCK:
            count, prev = _AQE_STATE.get(self._sid, (0, "true"))
            if count == 0:
                prev = self._spark.conf.get(self._KEY, "true")
                self._spark.conf.set(self._KEY, "false")
            _AQE_STATE[self._sid] = (count + 1, prev)
        return self

    def __exit__(self, *exc):
        with _AQE_LOCK:
            count, prev = _AQE_STATE[self._sid]
            if count == 1:
                self._spark.conf.set(self._KEY, prev)
                del _AQE_STATE[self._sid]
            else:
                _AQE_STATE[self._sid] = (count - 1, prev)
        return False
