"""Source-data cleaner: delete source files only after verifying extraction
(SURVEY §2.9 C1-C3, reference cleaner/SourceDataCleaner.kt:48-131,
TimestampExtractionCheck.kt:23-106).

Reference semantics, re-expressed as one grouped Spark pass per topic:

* C1 candidate filter (driver-side, cheap): file age > `age_days` AND the
  file is committed in the manifest (seen & unmodified) AND a later offset
  exists for its Kafka partition — the max-offset file is never removed
  (SourceDataCleaner.kt:99-113 `incrementTo` containment).
* C2 extraction check (distributed): recompute each source record's target
  file path and event time with the writer's own routing,
  `RestructurePlan.route` (event-time cascade, path partition columns,
  bucket), over the same read+conform+union step (`plan.attempt_frames`).
  The time is rendered as the target holds it: the CSV cell through
  flatten's leaf renderer, the typed value for parquet, the writer's JSON
  line (`RestructurePlan.json_line`). No flatten job and no dedup window
  run: when the topic's dedup key holds `value.time` (dedup off, the whole
  record or JSON line as key, `distinct_fields` naming it, `ignore_fields`
  leaving it in; `_key_holds_time`), every duplicate the writer dropped
  shares its survivor's partition columns and time, so it expects the same
  (target, time) pair, and checking every record gives each file of a
  healthy tree the verdict that checking the survivors would. Where a
  survivor's time is missing, every file holding a copy of that record is
  revoked, not only the survivor's. A key that leaves `value.time` out
  drops records whose time no target holds, so that topic's check runs
  the writer's `transform` and expects its survivors only. The records are
  grouped by the partition columns (one shuffle: a target path is one
  partition-column tuple per attempt), sorted by target path, and one
  partition loop runs over them. For each target file it asks the storage
  once whether the file exists, reads it once, builds the file's set of
  event times (the reference's TimestampFileCache) and emits every source
  file with a record whose time is not in that set. A missing target fails every source in its group;
  records with no event time are conservatively unmatched (the reference's
  extraction check also fails them: TimestampExtractionCheck errors => not
  extracted). A source file is extracted iff it emitted nothing. The loop
  runs where the writer's would (`sinks.writers.run_partition_loop`): on the
  executors for executor-safe storage, on the driver otherwise. Each target
  path is read exactly as the expectation rendered it, so no listing job
  and no path normalisation sit between the two sides.
* C3: extracted -> delete source; not extracted -> revoke its manifest
  entry so the next restructure run re-extracts it
  (AccountantImpl.kt:55-59 offset revocation).

Event times compare per format: CSV and zip targets are parsed whole-file
through the writer's codec, each against its own header, and the
`value.time` token is compared with the expectation's rendered cell;
JSON lines compare the `value.time` that one Python extraction (`_json_time`)
finds in the target line and in the expectation's rendered line; parquet
compares typed values, NaN matching NaN.
"""

from __future__ import annotations

import csv
import io
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_output_restructure_spark.functions.flatten import _render_leaf
from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.sinks.storage import TargetStorage
from radar_output_restructure_spark.sinks.writers import decompress, run_partition_loop
from radar_output_restructure_spark.sources.kafka_tree import (
    parse_offset_filename,
)
from radar_output_restructure_spark.sources.manifest import FileEntry
from radar_output_restructure_spark.timer import Timer


#: the event-time leaf the check compares, by its flat (dotted) name
TIME = "value.time"


def _key_holds_time(dedup: DedupConfig, fmt: str) -> bool:
    """Whether the writer's dedup key holds `value.time`. The key always
    holds the partition columns, so then every record the window drops has
    its survivor's target path and time, and checking every record gives
    a healthy tree the verdicts that checking the survivors would. It
    holds with dedup off, for JSON (the whole line is the key), and for
    CSV and parquet unless `ignore_fields` names `value.time` or
    `distinct_fields` leaves it out. Where a missing distinct field makes
    the key fall back (`operators.dedup.key_field_indexes`), it falls back
    to the whole record or the ignore rule, which keep `value.time`."""
    if not dedup.enable or fmt == "json":
        return True
    if TIME in (dedup.ignore_fields or ()):
        return False
    return not dedup.distinct_fields or TIME in dedup.distinct_fields


def _time_column(
    schema: T.StructType, excluded: set[str], rendered: bool
) -> Column | None:
    """The flat `value.time` leaf of a routed frame as `flatten` projects
    it (rendered for CSV, typed for parquet), or None where it projects
    none: `value` or `value.time` excluded or absent, or `value.time` a
    record, map or array. A map `value` gives its `time` key, NULL where
    a record lacks it, as the flattened column does."""
    if "value" in excluded or TIME in excluded:
        return None
    value = next((f.dataType for f in schema.fields if f.name == "value"), None)
    if isinstance(value, T.MapType):
        leaf = F.try_element_at(F.col("value"), F.lit("time"))
        dtype = value.valueType
    elif isinstance(value, T.StructType) and "time" in value.fieldNames():
        leaf, dtype = F.col(TIME), value["time"].dataType
        if isinstance(dtype, (T.StructType, T.MapType, T.ArrayType)):
            return None
    else:
        return None
    return _render_leaf(leaf, dtype) if rendered else leaf


def _time_key(value):
    """An event time as the check compares it: NaN as one token (NaN never
    equals itself), anything else as it is."""
    return "NaN" if value != value else value


def _json_time(line: str):
    """The `value.time` key of one JSON line, or None."""
    try:
        value = json.loads(line).get("value")
    except (ValueError, AttributeError):
        return None
    return _time_key(value.get("time")) if isinstance(value, dict) else None


def _unmatched_loop(storage: TargetStorage, fmt: str, codec: str | None):
    """The extraction check's partition loop: over (source_file,
    target_path, time) rows sorted by target path, yield each source file
    that has a record whose time is not in its target file's time set. A
    NULL target path is a record with no event time: always unmatched.
    Each target file is read once; a group that spans two batches reuses
    the set read for the first."""
    key = _json_time if fmt == "json" else _time_key

    def loop(batches):
        import pandas as pd

        bad: set[str] = set()
        last, last_times = None, None
        for pdf in batches:
            if pdf.empty:
                continue
            paths = [
                p for p in pdf["target_path"].unique()
                if p is not None and p != last
            ]
            times = SourceDataCleaner._target_rows(storage, paths, fmt, codec)
            times[last] = last_times
            for source, path, t in zip(
                pdf["source_file"], pdf["target_path"], pdf["time"]
            ):
                found = times.get(path)
                if found is None or key(t) not in found:
                    bad.add(source)
            last = pdf["target_path"].iloc[-1]
            last_times = times.get(last)
        yield pd.DataFrame({"source_file": pd.Series(sorted(bad), dtype=object)})

    return loop


@dataclass
class CleanerConfig:
    """config/CleanerConfig.kt:3-10 (enable/interval handled by the service
    loop; age in days here)."""

    age_days: float = 7.0


class SourceDataCleaner:
    def __init__(
        self,
        spark: SparkSession,
        config: RestructureConfig,
        cleaner: CleanerConfig | None = None,
        plan: RestructurePlan | None = None,
    ):
        self.spark = spark
        self.config = config
        self.cleaner = cleaner or CleanerConfig()
        # a service loop passes its long-lived plan so the cleaner shares
        # its storage index (and deletes update that index in place)
        self.plan = plan or RestructurePlan(spark, config)
        self._owns_plan = plan is None

    # -- C1: candidates ------------------------------------------------------

    def candidate_files(self, topic: str) -> list[FileEntry]:
        cfg = self.config
        tcfg = cfg.topics.get(topic)
        if tcfg and tcfg.exclude_from_delete:  # P6
            return []
        committed = self.plan.manifest.load()
        cutoff_ms = (time.time() - self.cleaner.age_days * 86400) * 1000
        # newest committed offset per kafka partition is never removed
        max_offset: dict[int, int] = {}
        parsed: list[tuple[str, int, int]] = []
        for path, mtime in committed.items():
            # <topic>/partition=N/<file>: the topic is the directory two
            # levels up (AvroTopicLister's rule). A substring match would
            # take topic `a`'s files as `in`'s when the input dir is `.../in`
            if os.path.basename(os.path.dirname(os.path.dirname(path))) != topic:
                continue
            meta = parse_offset_filename(os.path.basename(path))
            if meta is None:
                continue
            _t, part, off_from, _off_to = meta
            parsed.append((path, part, off_from))
            max_offset[part] = max(max_offset.get(part, -1), off_from)
        src = self.plan.source_storage
        out = []
        for path, part, off_from in parsed:
            if not src.exists(path):
                continue
            if off_from >= max_offset[part]:  # later offset must exist
                continue
            mtime = committed[path]
            if mtime > cutoff_ms:
                continue
            if src.mtime_ms(path) > mtime:  # modified since commit
                continue
            out.append(FileEntry(path, mtime))
        return sorted(out, key=lambda f: f.path)

    # -- C2: extraction verification ------------------------------------------

    def _output_root(self) -> str:
        """The output root of the expectation paths: URIs (file://, s3a://,
        abfs://, hdfs://) pass through; local paths are made ABSOLUTE,
        because the check reads each target path in a Python worker whose
        working directory is not the driver's: a relative `output_dir`
        would find no target -> every file revoked -> unbounded duplicate
        re-extraction."""
        root = self.config.output_dir.rstrip(os.sep)
        if "://" in root or root.startswith("file:"):
            return root
        return os.path.abspath(root)

    def _source_expectations(
        self, topic: str, files: list[FileEntry]
    ) -> tuple[DataFrame | None, list[str], set[str]]:
        """((source_file, target_path, time, *partition columns) per source
        record, the partition columns, covered source paths): each record's
        target path and rendered event time, as the writer routed and
        rendered them. `time` is the CSV cell string, the JSON line, or the
        typed parquet value; `target_path` is NULL for a record with no
        event time. The frame is None when no file is covered.

        When the topic's dedup key holds `value.time` (`_key_holds_time`),
        the rows come straight off `plan.route`: no flatten, no window. A
        key without it keeps the survivors of `plan.transform`, the
        writer's own frame. Either way the frames come from
        `plan.attempt_frames`, the ONE read+conform+union step `run_topic`
        uses, so the transform path keeps exactly the survivors the writer
        kept (a divergent read could keep another duplicate than the
        union-scoped writer did, revoking healthy files forever). Files
        whose schema cannot be read right now are NOT covered: the caller
        must treat them as unverified, never as extracted."""
        cfg = self.config
        plan = self.plan
        json_out = cfg.output_format == "json"
        direct = _key_holds_time(plan.dedup_config(topic), cfg.output_format)
        parts: list[DataFrame] = []
        part_cols: list[str] = []
        covered: set[str] = set()
        out_root = self._output_root()
        for attempt, _sup, df, group_files in plan.attempt_frames(topic, files):
            covered.update(f.path for f in group_files)
            # JSON: the rendered line; the check extracts its time in
            # Python, as it does from the target's lines
            if direct:
                rows, part_cols = plan.route(df, topic)
                event_time = (
                    plan.json_line(rows, part_cols, topic)
                    if json_out
                    else _time_column(
                        rows.schema,
                        plan.excluded_fields(topic),
                        rendered=cfg.output_format == "csv",
                    )
                )
            else:
                rows, part_cols = plan.transform(
                    df, topic, keep_cols=("source_file",)
                )
                event_time = (
                    F.col("line") if json_out
                    else F.col(f"`{TIME}`") if TIME in rows.columns
                    else None
                )
            if event_time is None:
                event_time = F.lit(None).cast("string")
            target = F.concat(
                F.concat_ws(
                    os.sep, F.lit(out_root), *[F.col(c) for c in part_cols]
                ),
                F.lit(plan.attempt_extension(attempt)),
            )
            if not json_out:
                # no event time: no target file can hold the record
                target = F.when(event_time.isNotNull(), target)
            parts.append(
                rows.select(
                    "source_file",
                    target.alias("target_path"),
                    event_time.alias("time"),
                    *part_cols,
                )
            )
        if not parts:
            return None, part_cols, covered
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, part_cols, covered

    @staticmethod
    def _target_rows(
        storage: TargetStorage, paths: list[str], fmt: str, codec: str | None
    ) -> dict[str, set | None]:
        """Each target file's set of event-time keys; None for a file that
        does not exist. One `exists` and one `read` per file, decoded
        through the writer's codec (reference cleaner/TimestampFileCache.kt:
        39-51, compression/ZipCompression.kt:10-26). A CSV file is parsed
        whole against its OWN header (schema-evolution attempts write
        different headers; RFC4180 quoted newlines stay inside their
        record). The partition loop calls it through the class, on an
        executor or on the driver, so a profiler can wrap it there
        (perfbench/trace.py does)."""
        out: dict[str, set | None] = {}
        for path in paths:
            if not storage.exists(path):
                out[path] = None
                continue
            data = storage.read(path)
            if fmt == "parquet":
                import pyarrow.parquet as pq

                table = pq.read_table(io.BytesIO(data))
                values = (
                    table.column(TIME).to_pylist()
                    if TIME in table.column_names
                    else []
                )
                keys = map(_time_key, values)
            else:
                text = decompress(data, codec).decode("utf-8")
                if fmt == "json":
                    keys = map(_json_time, text.splitlines())
                else:
                    rows = csv.reader(io.StringIO(text))
                    header = next(rows, [])
                    ti = header.index(TIME) if TIME in header else -1
                    keys = (row[ti] for row in rows if 0 <= ti < len(row))
            out[path] = set(keys) - {None}
        return out

    @Timer.time("cleaner.verify")
    def verify_topic(self, topic: str, files: list[FileEntry]) -> dict[str, bool]:
        """source_file -> fully extracted? One grouped pass for the whole
        topic: the expectations shuffle by their partition columns (the
        one Exchange; on the `transform` path it is transform's own, so
        Spark plans no second one), sort by target path within each
        partition, and one partition loop checks each target file against
        its own records; the driver collects only the unmatched source
        files. A target path is one (partition columns, attempt) pair, so
        its records share a partition. Two Spark jobs: the shuffle's map
        stage and the check (flatten's checkpoint adds one on the
        `transform` path when the schema has map or array leaves).

        A file the expectation scan could NOT cover (its schema read failed
        right now — transient storage error or post-commit corruption) is
        never `extracted`: it produced zero expectations, so a membership
        test on the unmatched set alone would silently promote it to
        deletable with no verification at all (the reference treats
        extraction-check errors as not-extracted,
        TimestampExtractionCheck.kt errors => failed)."""
        if not files:
            return {}
        cfg = self.config
        storage = self.plan.target_storage
        src, part_cols, covered = self._source_expectations(topic, files)
        if src is None:
            return {f.path: False for f in files}
        grouped = (
            src.repartition(*part_cols)
            .select("source_file", "target_path", "time")
            .sortWithinPartitions("target_path")
        )
        # AQE may coalesce the partitions by byte size: a target costs one
        # read, small next to a Python task's fixed cost
        bad = set(
            run_partition_loop(
                grouped,
                _unmatched_loop(storage, cfg.output_format, cfg.compression),
                "source_file",
                storage,
            )
        )
        return {
            f.path: f.path in covered and f.path not in bad for f in files
        }

    # -- C3: delete or revoke --------------------------------------------------

    def run_topic(self, topic: str) -> dict[str, list[str]]:
        files = self.candidate_files(topic)
        verdict = self.verify_topic(topic, files)
        deleted, revoked = [], []
        with Timer.time("cleaner.delete"):
            for f in files:
                if verdict.get(f.path):
                    self.plan.source_storage.delete(f.path)  # S15
                    if self.plan.storage_index is not None:
                        # keep the incremental index honest without waiting
                        # for its next full sync (StorageIndex.remove)
                        self.plan.storage_index.remove(f.path)
                    deleted.append(f.path)
                else:
                    revoked.append(f)
            self.plan.manifest.revoke(revoked)  # T7: one ledger segment
        return {"deleted": deleted, "revoked": [f.path for f in revoked]}

    def run(self) -> dict[str, dict[str, list[str]]]:
        if self._owns_plan and self.plan.storage_index is not None:
            # no worker refreshes this plan's index: without this, topic
            # discovery reads an empty index and nothing is ever cleaned
            self.plan.storage_index.update()
        return {t: self.run_topic(t) for t in self.plan.topics()}
