"""Kafka-sink topic-tree source (SURVEY §2.1 S1-S7).

Physical layout (reference accounting/TopicPartitionOffsetRange.kt:65-76,
util/AvroTopicLister.kt:14-31): one directory per topic, files named

    <input>/<topic>/partition=<p>/<topic>+<p>+<offsetFrom>[+<offsetTo>].<ext>

The reference walks the tree with coroutines and an in-memory storage index;
on Spark the listing is the driver-side file index and the per-record work is
one declarative scan:

* `read_topic_tree` loads every file of a topic (or all topics) in one
  `spark.read` — Catalyst prunes columns and pushes filters into the scan.
* `with_file_metadata` attaches topic / kafka partition / offset range parsed
  from `_metadata.file_path` (the hidden file-source metadata column — no
  extra I/O), replacing the reference's filename parser.
* Storage backends (local/S3A/ABFS, reference source/S3SourceStorage.kt,
  AzureSourceStorage.kt) collapse into the Hadoop FileSystem URL scheme;
  retries and listing pagination are Hadoop-connector config, not engine code.

Format "avro" (the reference's native input) uses the spark-avro DataSource
when its jar is on the classpath; otherwise the distributed pure-Python
container reader in avro_io.py (binaryFile scan + Arrow mapInPandas decode)
takes over with identical downstream semantics. That reader's record type is
read on the driver from the container header of the first file it loads
(the first `paths` entry, or the first match of the glob in the source
storage's sorted listing), so building a jar-less scan runs no Spark job.
Parquet shares the same tree semantics — they live in the path parsing, not
the codec.
"""

from __future__ import annotations

import fnmatch
import glob
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# <topic>+<partition>+<offsetFrom>[+<offsetTo>].<ext>[.<compression>]
FILENAME_RE = r"([^/+]+)\+(\d+)\+(\d+)(?:\+(\d+))?\.[A-Za-z0-9.]+$"


def parse_offset_filename(name: str) -> tuple[str, int, int, int | None] | None:
    """Driver-side parse of one filename (reference
    TopicPartitionOffsetRange.kt:65-76: split on [+.], drop extension)."""
    m = re.search(FILENAME_RE, name)
    if not m:
        return None
    topic, part, off_from, off_to = m.groups()
    return topic, int(part), int(off_from), int(off_to) if off_to else None


def _attach_path_metadata(
    df: DataFrame, path_col: str, mtime_col: str
) -> DataFrame:
    """Attach topic / kafka_partition / offset_from / offset_to / source_file /
    file_modified parsed from a file-path column, then drop the raw columns.

    The parse is per-FILE information evaluated per ROW, so it must be
    cheap: ONE regexp_extract of the full match over just the FILENAME
    (`[^/+]+` and `[A-Za-z0-9.]+$` cannot span '/', so matching the last
    path segment is equivalent to matching the whole path), then plain
    split/substring ops pull the groups out of the matched text. The
    previous shape ran the regex FOUR times per row against the full path
    — measured 3.4 s per 100k rows on one core, the dominant cost of the
    restructure scan stage (guide §1.2 step 2: per-task work).

    Group equivalence with the 4x regexp_extract form: the match text is
    `<topic>+<part>+<from>[+<to>].<ext>` where topic contains no '+', the
    offsets are pure digits and the extension contains no '+', so splitting
    the match on '+' yields exactly the regex groups (the extension rides
    the last element and drops with substring_index at its first '.' —
    offsets are digits, so the first '.' always starts the extension).
    Filenames that do NOT match yield topic '' (as before) and NULL
    partition/offsets — the old ''-cast raised under ANSI mode and aborted
    the whole topic for one stray readable file."""
    path = F.col(path_col)
    # local URIs come back as file:/x or file:///x — normalize to a plain path
    # so driver-side os.* paths compare equal; object-store schemes pass through
    normalized = F.regexp_replace(path, "^file:/+", "/")
    m = F.regexp_extract(F.substring_index(path, "/", -1), FILENAME_RE, 0)
    parts = F.split(m, r"\+")
    new_cols = {
        "source_file": normalized,
        "file_modified": F.col(mtime_col),
        "topic": parts.getItem(0),
        "kafka_partition": parts.getItem(1).cast("int"),
        "offset_from": F.substring_index(parts.getItem(2), ".", 1).cast("long"),
        "offset_to": F.substring_index(parts.getItem(3), ".", 1).cast("long"),
    }
    # ONE select = one analyzer pass; the previous 6-withColumn chain
    # re-analyzed the whole scan tree per column (guide §1.2 step 2 — this
    # runs in every topic-tree query's build). Column order is identical:
    # withColumn appended the six names in this order and drop removed the
    # raw path/mtime. Fall back to the append-or-replace chain in the
    # (never-seen) case a scan already carries one of the metadata names.
    if not any(c in df.columns for c in new_cols):
        keep = [c for c in df.columns if c not in (path_col, mtime_col)]
        return df.select(
            *[F.col(f"`{c}`") for c in keep],
            *[v.alias(k) for k, v in new_cols.items()],
        )
    out = df
    for name, col in new_cols.items():
        out = out.withColumn(name, col)
    return out.drop(path_col, mtime_col)


def with_file_metadata(df: DataFrame) -> DataFrame:
    """Attach filename metadata from the file-source `_metadata` column.

    `_metadata` is produced by the scan itself (no second listing), so at
    100 TB this costs nothing beyond the existing file index.
    """
    df = df.select(
        "*",
        F.col("_metadata.file_path").alias("__src_path"),
        F.col("_metadata.file_modification_time").alias("__src_mtime"),
    )
    return _attach_path_metadata(df, "__src_path", "__src_mtime")


#: keyed on the live SparkSession object, not id(jsession) — ids are reused
#: after garbage collection, so a stopped no-jar session could poison a new
#: jar-bearing one (and vice versa) under an id key
_NATIVE_AVRO: "weakref.WeakKeyDictionary[SparkSession, bool]" = (
    weakref.WeakKeyDictionary()
)


def has_native_avro(spark: SparkSession) -> bool:
    """True when the spark-avro DataSource jar is on the classpath (a real
    cluster); False in jar-less environments, where the pure-Python container
    reader (sources/avro_io.py) takes over."""
    cached = _NATIVE_AVRO.get(spark)
    if cached is None:
        try:
            # resolving the DataSource is the authoritative probe; the path
            # is never read (schema supplied, load is lazy for file listing
            # only after resolution fails or succeeds)
            spark.read.format("avro").schema("__probe int").load(
                "/__avro_capability_probe__"
            )
            cached = True
        except Exception as exc:
            # jar missing raises the dedicated missing-data-source error;
            # any OTHER failure (path-not-found) means the source RESOLVED.
            # Prefer the structured error condition: the free-text template
            # is the deprecated _LEGACY_ERROR_TEMP_1139 and the generic
            # DATA_SOURCE_NOT_FOUND message reads "Failed to find THE data
            # source", which the substring probe would miss.
            name = None
            for getter in ("getCondition", "getErrorClass"):
                fn = getattr(exc, getter, None)
                if fn is not None:
                    try:
                        name = fn()
                    except Exception:
                        name = None
                    if name:
                        break
            if name is not None:
                cached = name not in (
                    "DATA_SOURCE_NOT_FOUND",
                    "_LEGACY_ERROR_TEMP_1139",
                )
            else:
                msg = str(exc)
                cached = (
                    "Failed to find data source" not in msg
                    and "Failed to find the data source" not in msg
                )
        _NATIVE_AVRO[spark] = cached
    return cached


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names a scan never reads: `.x`, `_x`
    (a `_` name holding `=` is a partition directory) and in-flight
    `._COPYING_` copies."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _probe_file(spark: SparkSession, load, exclude_topics: set[str] | None):
    """(storage, path) of the first file of `load` outside `exclude_topics`,
    or None when there is none. A literal path is its own file; a glob
    (`<in>/<topic or *>/partition=*/`) takes the first file of its root's
    sorted `walk_files` whose leading segments match the glob and whose
    names below it are not hidden. Driver-side listing only: no Spark
    job."""
    from radar_output_restructure_spark.sinks.storage import storage_for

    def kept(path: str) -> bool:
        # tree layout <in>/<topic>/partition=*/<file>: the topic is the
        # third-from-last path segment, as in the scan's filter
        segs = path.split("/")
        return len(segs) < 3 or segs[-3] not in (exclude_topics or ())

    for entry in [load] if isinstance(load, str) else load:
        if not glob.has_magic(entry):
            if kept(entry):
                return storage_for(entry, spark), entry
            continue
        cut = re.search(r"[^/]*[*?\[]", entry).start()
        root, pattern = entry[:cut], [s for s in entry[cut:].split("/") if s]
        storage = storage_for(root, spark)
        # walk_files lists local URIs as plain paths
        prefix = re.sub("^file:/+", "/", root)
        for path in sorted(storage.walk_files(root)):
            segs = [s for s in path[len(prefix):].split("/") if s]
            if (
                path.startswith(prefix)
                and len(segs) > len(pattern)
                and all(map(fnmatch.fnmatchcase, segs, pattern))
                and not any(map(_hidden, segs[len(pattern):]))
                and kept(path)
            ):
                return storage, path
    return None


def _read_avro_tree_python(
    spark: SparkSession, load, exclude_topics: set[str] | None = None
) -> DataFrame:
    """Jar-less Avro scan: binaryFile ships each container file whole to an
    executor; an Arrow-batched mapInPandas decodes it with the pure-Python
    codec. Kafka-sink files are flush-sized (MBs), so one-file-per-row is the
    natural split granularity — the same unit the reference processes
    (util/GenericRecordReader.kt:11-43).

    The record type comes from the driver: `avro_io.read_schema` reads the
    header of the first file of the load list (`_probe_file`) through the
    source storage, the same header read `plans/restructure._schema_canon`
    fingerprints with, so building the scan launches no Spark job. Every
    decoded file is checked against that type.

    `exclude_topics` prunes BEFORE the decode (path predicate pushed to the
    binaryFile scan): an excluded topic must never be schema-probed or
    decoded — its containers may carry a different schema, and a post-scan
    row filter would already have crashed on the mixed-schema check."""
    import pandas as pd

    from radar_output_restructure_spark.sources import avro_io

    probe = _probe_file(spark, load, exclude_topics)
    if probe is None:
        raise FileNotFoundError(f"no avro files under {load!r}")
    storage, probe_path = probe
    with storage.open_seekable(probe_path) as fh:
        writer_schema = avro_io.read_schema(fh)
    bin_df = spark.read.format("binaryFile").load(load)
    if exclude_topics:
        # tree layout <in>/<topic>/partition=*/<file>: the topic is the
        # third-from-last path segment
        topic_seg = F.element_at(F.split(F.col("path"), "/"), -3)
        bin_df = bin_df.filter(~topic_seg.isin(*sorted(exclude_topics)))
    record_type, _ = avro_io.avro_to_spark_type(writer_schema)
    if not isinstance(record_type, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    out_schema = T.StructType(
        list(record_type.fields)
        + [
            T.StructField("__src_path", T.StringType(), False),
            T.StructField("__src_mtime", T.TimestampType(), False),
        ]
    )
    names = [f.name for f in record_type.fields]
    # Schema-agreement check in SPARK shape, not raw avro JSON: the callers
    # group files by the Spark-typed fingerprint (plans/restructure.
    # _schema_canon), so two writer schemas differing only in non-structural
    # avro attributes (doc strings, namespaces, aliases, field defaults,
    # connect.version bumps) land in ONE group — a raw-JSON comparison here
    # would crash that group's scan forever even though every file decodes
    # fine with its own header schema.
    probe_canon = record_type.json()

    def decode(batches):
        for pdf in batches:
            frames = []
            for path, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                file_schema, records = avro_io.read_container(bytes(content))
                file_type, _ = avro_io.avro_to_spark_type(file_schema)
                if file_type.json() != probe_canon:
                    # Mixed-schema scan must fail loudly: decoding against
                    # the probe schema would silently drop extra fields and
                    # null-fill missing ones. Callers group files by schema
                    # fingerprint first (plans/restructure.py) and never hit
                    # this; a raw read_topic_tree over a drifted topic does.
                    raise ValueError(
                        f"avro schema of {path!r} differs from the probe "
                        "file's schema; group files by fingerprint (pass "
                        "`paths` per schema group) before scanning"
                    )
                if not records:
                    # header-only flush: an empty pandas frame would type
                    # struct columns float64, which Arrow rejects
                    continue
                # dtype=object per column: pandas' default inference turns a
                # nullable long column (None + ints) into float64, silently
                # corrupting values above 2^53 (9007199254740993 ->
                # ...992.0) before Arrow casts back to LongType. Object
                # columns hand Arrow the exact Python ints.
                frame = pd.DataFrame(
                    {
                        n: pd.Series(
                            [rec.get(n) for rec in records], dtype=object
                        )
                        for n in names
                    }
                )
                frame["__src_path"] = path
                frame["__src_mtime"] = mtime
                frames.append(frame)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return bin_df.mapInPandas(decode, out_schema)


def read_topic_tree(
    spark: SparkSession,
    input_dir: str,
    topic: str | None = None,
    file_format: str = "parquet",
    exclude_topics: set[str] | None = None,
    paths: list[str] | None = None,
) -> DataFrame:
    """Load a Kafka-sink tree. One scan for all topics when schemas align;
    per-topic calls when they don't (the reference always processes per-topic,
    worker/RadarKafkaRestructure.kt:81-106).

    `+tmp` directories (reference util/AvroTopicLister.kt:28) are skipped
    naturally: the glob only descends into `partition=*` directories.

    `paths`: load exactly these files (the manifest-pruned candidate list) —
    partition pruning at the source instead of a post-scan filter.

    format="avro" uses the native spark-avro DataSource when its jar is on
    the classpath and falls back to the distributed pure-Python container
    reader (avro_io.py) otherwise, with identical downstream semantics.
    """
    load = paths if paths is not None else f"{input_dir}/{topic or '*'}/partition=*/"
    if (
        exclude_topics
        and paths is None
        and topic is None
        and isinstance(load, str)
    ):
        # Prune excluded topics DRIVER-SIDE into the load list: a post-scan
        # row filter still SCANS the excluded topic's files, and a topic is
        # typically excluded precisely because its schema drifted — the
        # mixed-schema scan would fail (or silently null-fill) before the
        # filter ever ran. One LIST of the tree root per call.
        from radar_output_restructure_spark.sinks.storage import storage_for

        names = [
            d.rstrip("/").rsplit("/", 1)[-1]
            for d in storage_for(input_dir, spark).list_dirs(input_dir)
        ]
        load = [
            f"{input_dir}/{name}/partition=*/"
            for name in sorted(names)
            if name not in exclude_topics and name != "+tmp"
        ]
        if not load:
            raise FileNotFoundError(
                f"every topic under {input_dir!r} is excluded; nothing to scan"
            )
    if file_format == "avro" and not has_native_avro(spark):
        decoded = _read_avro_tree_python(spark, load, exclude_topics)
        df = _attach_path_metadata(decoded, "__src_path", "__src_mtime")
    else:
        df = spark.read.format(file_format).load(load)
        # partition=N discovery column may shadow the parsed kafka partition
        if "partition" in df.columns:
            df = df.drop("partition")
        df = with_file_metadata(df.select("*", "_metadata")).drop("_metadata")
    if exclude_topics:
        df = df.filter(~F.col("topic").isin(*sorted(exclude_topics)))
    return df
