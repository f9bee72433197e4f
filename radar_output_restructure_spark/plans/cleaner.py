"""Source-data cleaner: delete source files only after verifying extraction
(SURVEY §2.9 C1-C3, reference cleaner/SourceDataCleaner.kt:48-131,
TimestampExtractionCheck.kt:23-106).

Reference semantics, re-expressed as one grouped Spark pass per topic:

* C1 candidate filter (driver-side, cheap): file age > `age_days` AND the
  file is committed in the manifest (seen & unmodified) AND a later offset
  exists for its Kafka partition — the max-offset file is never removed
  (SourceDataCleaner.kt:99-113 `incrementTo` containment).
* C2 extraction check (distributed): recompute each source record's target
  file path and event time with the SAME plan the writer used, shuffle the
  records by target path, and run one partition loop over them. For each
  target file it asks the storage once whether the file exists, reads it
  once, builds the file's set of event times (the reference's
  TimestampFileCache) and emits every source file with a record whose time
  is not in that set. A missing target fails every source in its group;
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
`value.time` token is compared with the expectation's Spark string cast;
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.plans.restructure import RestructureConfig, RestructurePlan
from radar_output_restructure_spark.sinks.storage import TargetStorage
from radar_output_restructure_spark.sinks.writers import decompress, run_partition_loop
from radar_output_restructure_spark.sources.kafka_tree import (
    parse_offset_filename,
)
from radar_output_restructure_spark.sources.manifest import FileEntry
from radar_output_restructure_spark.timer import Timer


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
    ) -> tuple[DataFrame, set[str]]:
        """((source_file, target_path, time) per source record, covered
        source paths) — the same routing + rendering plan the writer ran.
        `time` is the CSV cell string, the JSON line, or the typed parquet
        value; `target_path` is NULL for a record with no event time.

        Shares `plan.attempt_frames` with `run_topic` — ONE definition of
        the per-attempt read+conform+union step, so dedup survivors in
        verification are byte-identical to what the writer kept (a
        divergent copy here could keep a different duplicate than the
        union-scoped writer did when distinct_fields dedup spans two
        groups, revoking healthy files forever). Files whose schema cannot
        be read right now are NOT covered — the caller must treat them as
        unverified, never as extracted."""
        cfg = self.config
        parts: list[DataFrame] = []
        covered: set[str] = set()
        out_root = self._output_root()
        for attempt, _sup, df, group_files in self.plan.attempt_frames(
            topic, files
        ):
            covered.update(f.path for f in group_files)
            flat, part_cols = self.plan.transform(
                df, topic, keep_cols=("source_file",)
            )
            ext = self.plan.attempt_extension(attempt)
            target = F.concat_ws(
                os.sep, F.lit(out_root),
                *[F.col(c) for c in part_cols],
            )
            target = F.concat(target, F.lit(ext))
            if cfg.output_format == "json":
                # the rendered line: the check extracts its time in Python,
                # as it does from the target's lines
                event_time = F.col("line")
            else:
                event_time = (
                    F.col("`value.time`")
                    if "value.time" in flat.columns
                    else F.lit(None).cast("string")
                )
                if cfg.output_format == "csv":
                    event_time = event_time.cast("string")
                # no event time: no target file can hold the record
                target = F.when(event_time.isNotNull(), target)
            parts.append(
                flat.select(
                    "source_file",
                    target.alias("target_path"),
                    event_time.alias("time"),
                )
            )
        if not parts:
            empty = self.spark.createDataFrame(
                [], "source_file string, target_path string, time string"
            )
            return empty, covered
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, covered

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
                    table.column("value.time").to_pylist()
                    if "value.time" in table.column_names
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
                    ti = header.index("value.time") if "value.time" in header else -1
                    keys = (row[ti] for row in rows if 0 <= ti < len(row))
            out[path] = set(keys) - {None}
        return out

    @Timer.time("cleaner.verify")
    def verify_topic(self, topic: str, files: list[FileEntry]) -> dict[str, bool]:
        """source_file -> fully extracted? One grouped pass for the whole
        topic: the expectations shuffle by target path and one partition
        loop checks each target file against its own records; the driver
        collects only the unmatched source files.

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
        src, covered = self._source_expectations(topic, files)
        grouped = src.repartition("target_path").sortWithinPartitions("target_path")
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
                    self.plan.manifest.revoke([f])  # T7 revocation
                    revoked.append(f.path)
        return {"deleted": deleted, "revoked": revoked}

    def run(self) -> dict[str, dict[str, list[str]]]:
        if self._owns_plan and self.plan.storage_index is not None:
            # no worker refreshes this plan's index: without this, topic
            # discovery reads an empty index and nothing is ever cleaned
            self.plan.storage_index.update()
        return {t: self.run_topic(t) for t in self.plan.topics()}
