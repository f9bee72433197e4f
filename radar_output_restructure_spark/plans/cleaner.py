"""Source-data cleaner: delete source files only after verifying extraction
(SURVEY §2.9 C1-C3, reference cleaner/SourceDataCleaner.kt:48-131,
TimestampExtractionCheck.kt:23-106).

Reference semantics, re-expressed as one Spark job per topic:

* C1 candidate filter (driver-side, cheap): file age > `age_days` AND the
  file is committed in the manifest (seen & unmodified) AND a later offset
  exists for its Kafka partition — the max-offset file is never removed
  (SourceDataCleaner.kt:99-113 `incrementTo` containment).
* C2 extraction check (distributed): recompute each source record's target
  file path and event time with the SAME plan the writer used, then
  LEFT ANTI join against the target files' (path, time) pairs. A source
  file is extracted iff it has zero unmatched records. Records with no
  event time are conservatively unmatched (the reference's extraction check
  also fails them: TimestampExtractionCheck errors => not extracted).
* C3: extracted -> delete source; not extracted -> revoke its manifest
  entry so the next restructure run re-extracts it
  (AccountantImpl.kt:55-59 offset revocation).

Target files are read back per format: CSV and zip targets are parsed
whole-file, each against its own header, through the writer's codec
(`_whole_file_target_rows`); JSON-lines as text (gzip decodes natively);
parquet typed, one scan per attempt. Both sides of the anti-join render a
target path through one rule (`_path_key`).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.plans.restructure import RestructureConfig, RestructurePlan
from radar_output_restructure_spark.sinks.writers import decompress
from radar_output_restructure_spark.sources.kafka_tree import (
    parse_offset_filename,
)
from radar_output_restructure_spark.sources.manifest import FileEntry
from radar_output_restructure_spark.timer import Timer


def _path_key(path: Column, url_encoded: bool) -> Column:
    """A target path as the extraction check compares it: a local file as
    its absolute path without the `file:` scheme, any other URI as is.
    `url_encoded` paths (Spark's `_metadata.file_path`: a space or `%` in a
    name is `%20` / `%25`) have their percent escapes decoded first; not
    with `url_decode`, which also turns `+` into a space."""
    if url_encoded:
        parts = F.split(path, "%")
        path = F.aggregate(
            F.slice(parts, 2, F.size(parts)),
            F.encode(parts[0], "UTF-8"),
            lambda acc, s: F.concat(
                acc,
                F.unhex(F.substr(s, F.lit(1), F.lit(2))),
                F.encode(F.substr(s, F.lit(3)), "UTF-8"),
            ),
            lambda acc: F.decode(acc, "UTF-8"),
        )
    return F.regexp_replace(path, "^file:/+", "/")


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
        because the target read-back reports absolute paths and a relative
        `output_dir` would make every expectation path unmatched -> every
        file revoked -> unbounded duplicate re-extraction."""
        root = self.config.output_dir.rstrip(os.sep)
        if "://" in root or root.startswith("file:"):
            return root
        return os.path.abspath(root)

    def _source_expectations(
        self, topic: str, files: list[FileEntry]
    ) -> tuple[DataFrame, set[str]]:
        """((source_file, target_path, time_str) per source record, covered
        source paths) — the same routing + rendering plan the writer ran.

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
                time_str = F.get_json_object(F.col("line"), "$.value.time")
            else:
                time_str = (
                    F.col("`value.time`")
                    if "value.time" in flat.columns
                    else F.lit(None)
                )
            parts.append(
                flat.select(
                    "source_file",
                    target.alias("target_path"),
                    time_str.cast("string").alias("time_str"),
                )
            )
        if not parts:
            empty = self.spark.createDataFrame(
                [], "source_file string, target_path string, time_str string"
            )
            return empty, covered
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, covered

    def _whole_file_target_rows(
        self, existing: list[str], codec: str | None
    ) -> DataFrame:
        """(target_path, time_str) by parsing each target file WHOLE.

        Targets load as binary files (they are group-bounded — one
        user-hour of rows) and an Arrow-batched mapInPandas decodes the
        codec (zip single entry / gzip / none) and parses rows PER FILE,
        mirroring the writer's codec (sinks/writers.py ZIP_LEVEL) and the
        reference's read-back-through-the-compression-factory verification
        (cleaner/TimestampFileCache.kt:39-51, compression/ZipCompression.kt:
        10-26). This is the only correct CSV read-back: a single
        spark.read.csv over many files binds every file to the FIRST
        file's header positionally (wrong column under schema-evolution
        attempts) and splits RFC4180-quoted embedded newlines into garbage
        rows without multiLine. Python csv parses each file against its
        OWN header (the `value.time` index per file) and handles quoted
        newlines natively. JSON rows come back as raw lines so the SAME
        get_json_object expression as the line-reader path extracts the
        time token — json round-trips through a float would re-render it.
        """
        import pandas as pd

        fmt = self.config.output_format
        bin_df = self.spark.read.format("binaryFile").load(existing)

        def decode_rows(batches):
            import csv as csvmod
            import io as iomod

            for pdf in batches:
                paths: list[str] = []
                vals: list[str | None] = []
                for p, content in zip(pdf["path"], pdf["content"]):
                    text = decompress(bytes(content), codec).decode("utf-8")
                    if fmt == "json":
                        for line in text.splitlines():
                            if line:
                                paths.append(p)
                                vals.append(line)
                    else:
                        rows = list(csvmod.reader(iomod.StringIO(text)))
                        if not rows:
                            continue
                        header, body = rows[0], rows[1:]
                        try:
                            ti = header.index("value.time")
                        except ValueError:
                            ti = -1
                        for row in body:
                            paths.append(p)
                            vals.append(
                                row[ti] if 0 <= ti < len(row) else None
                            )
                yield pd.DataFrame({"target_path": paths, "payload": vals})

        path = _path_key(F.col("_metadata.file_path"), url_encoded=True)
        rows = bin_df.select(path.alias("path"), "content").mapInPandas(
            decode_rows, "target_path string, payload string"
        )
        if fmt == "json":
            time_str = F.get_json_object(F.col("payload"), "$.value.time")
        else:
            time_str = F.col("payload")
        return rows.select(
            "target_path", time_str.cast("string").alias("time_str")
        )

    def _target_rows(self, target_paths: list[str]) -> DataFrame:
        """(target_path, time_str) for every row of the touched target files."""
        cfg = self.config
        tgt = self.plan.target_storage
        existing = [p for p in target_paths if tgt.exists(p)]
        if not existing:
            return self.spark.createDataFrame(
                [], "target_path string, time_str string"
            )
        if cfg.output_format == "csv" or cfg.compression == "zip":
            # whole-file parse: per-file headers + RFC4180 quoted newlines
            # (see _whole_file_target_rows) — one spark.read.csv over mixed
            # -attempt files would bind columns positionally to the first
            # file's header
            return self._whole_file_target_rows(existing, cfg.compression)
        if cfg.output_format == "json":
            df = self.spark.read.text(existing)
            time_str = F.get_json_object(F.col("value"), "$.value.time")
            path = _path_key(F.col("_metadata.file_path"), url_encoded=True)
            return df.select("*", "_metadata").select(
                path.alias("target_path"),
                time_str.cast("string").alias("time_str"),
            )
        # parquet: typed target. Attempts exist BECAUSE schemas differ (a
        # value.time TYPE change would make one scan over both attempts'
        # files throw or null-fill), so read each attempt group separately
        # and union the projected strings; the double -> string cast is the
        # same Java rendering the expectations side applies.
        import re as _re

        by_attempt: dict[str, list[str]] = {}
        for p in existing:
            m = _re.search(r"_(\d+)\.parquet$", p)
            by_attempt.setdefault(m.group(1) if m else "0", []).append(p)
        parts: list[DataFrame] = []
        for group in by_attempt.values():
            df = self.spark.read.parquet(*group)
            time_str = (
                F.col("`value.time`")
                if "value.time" in df.columns
                else F.lit(None)
            )
            path = _path_key(F.col("_metadata.file_path"), url_encoded=True)
            parts.append(
                df.select("*", "_metadata").select(
                    path.alias("target_path"),
                    time_str.cast("string").alias("time_str"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @Timer.time("cleaner.verify")
    def verify_topic(self, topic: str, files: list[FileEntry]) -> dict[str, bool]:
        """source_file -> fully extracted? One anti-join for the whole topic.

        A file the expectation scan could NOT cover (its schema read failed
        right now — transient storage error or post-commit corruption) is
        never `extracted`: it produced zero expectations, so a membership
        test on the unmatched set alone would silently promote it to
        deletable with no verification at all (the reference treats
        extraction-check errors as not-extracted,
        TimestampExtractionCheck.kt errors => failed)."""
        if not files:
            return {}
        src, covered = self._source_expectations(topic, files)
        src = src.cache()
        try:
            targets = [
                r.target_path for r in src.select("target_path").distinct().collect()
            ]
            tgt = self._target_rows(targets)
            missing = (
                src.select(
                    "source_file",
                    _path_key(F.col("target_path"), url_encoded=False).alias(
                        "target_path"
                    ),
                    F.coalesce(F.col("time_str"), F.lit("\x00missing")).alias(
                        "time_str"
                    ),
                )
                .join(tgt, ["target_path", "time_str"], "left_anti")
                .groupBy("source_file")
                .count()
            )
            bad = {r.source_file for r in missing.collect()}
        finally:
            src.unpersist()
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
