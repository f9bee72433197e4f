"""The end-to-end restructure plan (SURVEY §3.1 re-expressed declaratively).

Reference lifecycle (worker/RadarKafkaRestructure.kt, RestructureWorker.kt):
list topic files -> prune seen offsets -> per record: event time, path,
flatten, write, account. Here the same semantics compile to ONE DataFrame
plan per topic batch:

    read_topic_tree              (S1-S7: scan + filename metadata)
    manifest.prune               (P4/P5/J1: anti-join vs processed ledger,
                                  driver-side — prunes before any I/O)
    event_time cascade           (§1.1: coalesce Column)
    path partition columns       (G1-G7: sanitize/time-bin/plugin segments)
    flatten                      (P1/P3: dot-named projection, excludeFields)
    optional window dedup        (D1-D4)
    write_output_tree_direct     (S10-S13: exact names + sidecars)
    manifest.commit              (T2: write-then-commit)

Catalyst sees the whole pipeline, so column pruning reaches the scan, and the
one shuffle is `transform`'s hash partitioning by the output-file path
columns: the dedup window's key holds every path column, and the writer's
repartition by the same columns is dropped as redundant.

`route` is the event-time and path half (plus the bucket and the arrival
order columns); the cleaner's extraction check reads it directly.
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_output_restructure_spark.functions.flatten import flatten, pruned_struct
from radar_output_restructure_spark.functions.schema_compat import conform_to
from radar_output_restructure_spark.functions.timeutil import event_time
from radar_output_restructure_spark.operators.dedup import (
    dedup_keep_first,
    dedup_keep_last,
    key_field_indexes,
)
from radar_output_restructure_spark.plans.path_format import (
    DEFAULT_FORMAT,
    BucketFormat,
    PathFormat,
)
from radar_output_restructure_spark.sinks.writers import (
    output_extension,
    write_output_tree_direct,
)
from radar_output_restructure_spark.sources.kafka_tree import read_topic_tree
from radar_output_restructure_spark.sources.manifest import (
    AttemptRegistry,
    FileEntry,
    ProcessedFileManifest,
    SchemaFingerprintCache,
)
from radar_output_restructure_spark.timer import Timer

logger = logging.getLogger(__name__)

# Arrival-order key: (kafka partition, starting offset, intra-file position).
ORDER_COLS = ["__ord_part", "__ord_off", "__pos"]

# Scan metadata attached per source file (kafka_tree._attach_path_metadata);
# 'topic' is attached too but kept separate — some consumers carry it.
META_COLS = [
    "source_file",
    "file_modified",
    "kafka_partition",
    "offset_from",
    "offset_to",
]


@dataclass
class DedupConfig:
    """config/DeduplicationConfig.kt:5-28."""

    enable: bool = False
    distinct_fields: list[str] | None = None
    ignore_fields: list[str] | None = None


@dataclass
class TopicConfig:
    """config/TopicConfig.kt."""

    exclude: bool = False
    exclude_from_delete: bool = False
    path_format: str | None = None
    dedup: DedupConfig | None = None
    exclude_fields: set[str] = field(default_factory=set)


@dataclass
class RestructureConfig:
    """The engine 'plan config' (config/RestructureConfig.kt shape)."""

    input_dir: str = ""
    output_dir: str = ""
    path_format: str = DEFAULT_FORMAT
    time_bin_format: str = "yyyyMMdd_HH'00'"
    output_format: str = "csv"  # csv | json | parquet
    compression: str | None = None  # None | gzip | zip (S13)
    exclude_fields: set[str] = field(default_factory=set)
    dedup: DedupConfig = field(default_factory=DedupConfig)
    topics: dict[str, TopicConfig] = field(default_factory=dict)
    # U1/U4: custom `${name}` path resolvers, name -> fn(df, event_ts) -> Column
    path_params: dict = field(default_factory=dict)
    max_files_per_topic: int | None = None
    minimum_file_age_s: float = 0.0
    source_format: str = "parquet"  # avro on a real cluster
    # worker.numThreads (config/WorkerConfig.kt:10): topics processed
    # concurrently. Each topic is its own Spark job; concurrent driver
    # threads keep the cluster busy while small topics list/commit.
    num_threads: int = 1
    # G6: per-record target bucket (FormattedPathFactory.kt:51-60); None keeps
    # a single output root, matching the reference's local-storage behavior.
    bucket: BucketFormat | None = None
    # S8 (source/S3SourceStorage.kt:65-90): files named without a `+to` end
    # offset may carry it as an `endOffset` object tag; enabling this reads
    # the tag (when the source storage supports tags) so the T4 legacy-CSV
    # coverage check can classify such files. The regular seen-file check is
    # path+mtime granularity and never needs the tag.
    end_offset_from_tags: bool = False
    # G5/J4: `${mp:...}` dimension source. Either a caller-materialized
    # DataFrame (projectId, userId, <attr>...) — the offline default — or
    # the reference plugin's REST properties (managementPortalUrl,
    # managementPortalClientId, managementPortalClientSecret;
    # path/MPPathFormatterPlugin.kt:26-28), which the plan resolves once
    # per run through sources/mp_client (driver-side, TTL-cached).
    mp_dim: "DataFrame | None" = None
    mp_properties: dict | None = None
    # O5 (worker/RadarKafkaRestructure.kt:166-169): replicated deployments
    # shuffle topic order so instances start on different topics and lock
    # contention drops. `shuffle_seed` pins the order for tests; None draws
    # a fresh order per run like the reference.
    shuffle_topics: bool = False
    shuffle_seed: int | None = None
    # T5: shared lock directory for multi-application deployments (the
    # reference's Redis lock prefix). None = single-app, no locking.
    lock_dir: str | None = None
    lock_ttl_s: float = 24 * 3600.0
    # S9 (source/StorageIndexManager.kt:29-95): incremental source listing.
    # When enabled, the plan keeps an in-memory tree index across run()s
    # (the service loop reuses one plan) and each poll LISTs only past the
    # per-directory startAfter cursor, with a full re-sync every
    # `index_rescan_s` and empty-dir re-lists every `index_rescan_empty_s`
    # (the reference's 3600 s / 900 s defaults). Off = every run re-walks
    # the tree, which is simpler and fine below ~100k source files.
    use_storage_index: bool = False
    index_rescan_s: float = 3600.0
    index_rescan_empty_s: float = 900.0

    def __post_init__(self) -> None:
        # Relative LOCAL paths are ambiguous across the processes that
        # touch them: Spark executors resolve them against the executor
        # JVM's cwd, the driver against its own, and the cleaner's
        # expectation paths must match the absolute URIs
        # `_metadata.file_path` reports. Pin them to the DRIVER's cwd at
        # config creation, once, for every component alike. URI-schemed
        # targets (s3a://, file:, ...) pass through untouched.
        # lock_dir most of all: its entire purpose is agreement between
        # SEPARATE processes — two replicas launched from different cwds
        # with a relative lock_dir would never contend and both would
        # process the same topic (exactly what T5 locking prevents)
        for attr in ("input_dir", "output_dir", "lock_dir"):
            val = getattr(self, attr)
            if val and "://" not in val and not val.startswith("file:"):
                setattr(self, attr, os.path.abspath(val))


class RestructurePlan:
    def __init__(
        self,
        spark: SparkSession,
        config: RestructureConfig,
        *,
        source_storage=None,
        target_storage=None,
    ):
        self.spark = spark
        self.config = config
        # eager config validation (PathFormatter.kt:52-60 fails at startup,
        # not mid-run) — covers the default and every per-topic override.
        # Format/compression pairing is validated here too: run()'s per-topic
        # error isolation (transient read errors must not starve other
        # topics) would otherwise swallow a CONFIG mistake into last_errors
        # and silently write nothing, cycle after cycle.
        output_extension(config.output_format, config.compression)
        for fmt in [config.path_format] + [
            t.path_format for t in config.topics.values() if t.path_format
        ]:
            PathFormat(
                fmt=fmt,
                time_bin_format=config.time_bin_format,
                custom_params=config.path_params,
            )
        # S2/S3/S14: source and target backends resolve by URI scheme —
        # plain paths stay on the fast local-FS implementation; s3a://,
        # abfs://, hdfs://, file:// route through the Hadoop FileSystem.
        # Explicit instances (e.g. an S3TargetStorage carrying endpoint /
        # credential kwargs) override the scheme-based resolution.
        from radar_output_restructure_spark.sinks.storage import storage_for

        self.source_storage = source_storage or storage_for(
            config.input_dir, spark
        )
        self.target_storage = target_storage or storage_for(
            config.output_dir, spark
        )
        offsets_dir = os.path.join(config.output_dir, "offsets")
        self.manifest = ProcessedFileManifest(offsets_dir, self.target_storage)
        self.attempts = AttemptRegistry(offsets_dir, self.target_storage)
        self.schema_cache = SchemaFingerprintCache(
            offsets_dir, self.target_storage
        )
        self._mp_plugin = None  # lazy MPPathPlugin; its HTTP caches are TTL'd
        # per-cycle topic failures (run() resets it): the reference logs and
        # continues per topic; callers inspect this to surface errors
        self.last_errors: dict[str, BaseException] = {}
        self._lock_manager = None
        if config.lock_dir:
            # Scheme-aware (T5): the locks are conditional writes through
            # the storage backend of the lock dir's scheme — s3:// and
            # azure:// coordinate replicas with NO shared filesystem, the
            # faithful analog of the reference's Redis locks.
            from radar_output_restructure_spark.locks import lock_manager_for

            self._lock_manager = lock_manager_for(
                config.lock_dir,
                ttl_s=config.lock_ttl_s,
                target_storage=self.target_storage,
            )
        self.storage_index = None
        if config.use_storage_index:
            from radar_output_restructure_spark.sources.storage_index import (
                StorageIndexManager,
            )

            self.storage_index = StorageIndexManager(
                self.source_storage,
                config.input_dir,
                rescan_s=config.index_rescan_s,
                rescan_empty_s=config.index_rescan_empty_s,
            )

    def _resolve_mp_dim(self) -> DataFrame | None:
        """`${mp:...}` dimension frame: explicit `mp_dim` wins; otherwise
        `mp_properties` builds the REST client once per plan and the frame
        is RE-materialized per call through the client's TTL'd HTTP caches
        (default 10 min, the reference's refresh cadence) — a plan-lifetime
        frame cache would freeze the subject snapshot for as long as the
        service loop reuses the plan, routing every later enrollee to the
        sanitize default forever."""
        cfg = self.config
        if cfg.mp_dim is not None:
            return cfg.mp_dim
        if cfg.mp_properties is None:
            return None
        if self._mp_plugin is None:
            from radar_output_restructure_spark.sources.mp_client import (
                MPPathPlugin,
            )

            self._mp_plugin = MPPathPlugin(cfg.mp_properties)
        return self._mp_plugin.mp_dim(self.spark)

    # -- driver-side listing / pruning (file granularity, SURVEY §2.8) ------

    @Timer.time("restructure.list")
    def list_candidate_files(self, topic: str) -> list[FileEntry]:
        import time as _time

        root = os.path.join(self.config.input_dir, topic)
        entries: list[FileEntry] = []
        now_ms = _time.time() * 1000
        listing = (
            self.storage_index.file_status_under(root)
            if self.storage_index is not None
            else self.source_storage.walk_file_status(root)
        )
        for path, mtime_ms, size in sorted(listing):
            if "+tmp" in path:
                continue
            if size == 0:  # zero-length guard, P7 (empty: coverage moot)
                continue
            entries.append(FileEntry(path, mtime_ms))
        entries = self.manifest.prune(entries)  # P4/J1 anti-join
        # T4: one-shot legacy offsets/<topic>.csv migration (covered files
        # commit into the manifest, the CSV is deleted). No-op when absent.
        # Runs on the PRE-age-filter listing: P5 only defers processing,
        # while migration is one-shot — a covered-but-young file dropped
        # before classification would lose its coverage with the CSV and
        # be re-extracted (duplicate-append) on a later run.
        from radar_output_restructure_spark.sources.legacy_offsets import (
            migrate_legacy_offsets,
        )

        entries = migrate_legacy_offsets(
            self.manifest,
            self.target_storage,
            self.config.output_dir,
            topic,
            entries,
            end_offset=(
                self._end_offset_from_tags
                if self.config.end_offset_from_tags
                else None
            ),
        )
        entries = [  # P5 minimum file age, applied post-migration
            f
            for f in entries
            if now_ms - f.modified_ms >= self.config.minimum_file_age_s * 1000
        ]
        # Kafka-offset processing order (the reference walks files in offset
        # order): path-lexicographic order is WRONG for unpadded offsets
        # ("+10" sorts before "+9"), which matters whenever the listing is
        # truncated (O2) or appended across runs — later offsets written
        # before earlier ones flips keep-last dedup survivors. Unparseable
        # names keep their lexicographic position after the parsed ones.
        from radar_output_restructure_spark.sources.kafka_tree import (
            parse_offset_filename,
        )

        def _offset_key(f: FileEntry):
            parsed = parse_offset_filename(f.path)
            if parsed is None:
                return (1, 0, 0, f.path)
            _topic, part, off_from, _off_to = parsed
            return (0, part, off_from, f.path)

        entries.sort(key=_offset_key)
        if self.config.max_files_per_topic:  # O2
            entries = entries[: self.config.max_files_per_topic]
        return entries

    def _end_offset_from_tags(self, path: str) -> int | None:
        """S8: `endOffset` object tag for files named without `+to`
        (S3SourceStorage.kt:65-90 — any tag-read failure skips silently)."""
        tags_fn = getattr(self.source_storage, "object_tags", None)
        if tags_fn is None:
            return None
        try:
            value = tags_fn(path).get("endOffset")
            return int(value) if value not in (None, "") else None
        except Exception:
            return None

    def topics(self) -> list[str]:
        """Topic discovery (S5): directories that contain partition dirs.
        With `shuffle_topics`, the order randomizes so replicated instances
        start on different topics (O5, RadarKafkaRestructure.kt:166-169)."""
        root = self.config.input_dir
        list_dirs = (
            self.storage_index.subdirs_of  # no extra LIST: read the index
            if self.storage_index is not None
            else self.source_storage.list_dirs
        )
        found = []
        for name in list_dirs(root):
            cfg = self.config.topics.get(name)
            if cfg and cfg.exclude:  # P6
                continue
            if any(
                d.startswith("partition=")
                for d in list_dirs(os.path.join(root, name))
            ):
                found.append(name)
        if self.config.shuffle_topics:
            import random

            random.Random(self.config.shuffle_seed).shuffle(found)
        return found

    # -- the declarative per-topic plan ------------------------------------

    def file_dedup(self, topic: str | None = None):
        """(distinct_fields, ignore_fields) for the writers' whole-file
        dedup-on-append, or None when dedup is disabled for the topic.
        Field names are the rendered (dot-joined) CSV header names —
        exactly what DedupConfig carries (the reference's distinctFields /
        ignoreFields address the same rendered header,
        CsvAvroConverterFactory.fieldIndexes)."""
        dedup_cfg = self.dedup_config(topic)
        if not dedup_cfg.enable:
            return None
        return (dedup_cfg.distinct_fields, dedup_cfg.ignore_fields)

    def excluded_fields(self, topic: str | None = None) -> set[str]:
        """Every dotted name the output leaves out for `topic`: the global
        and per-topic `excludeFields` plus the scan's metadata columns."""
        cfg = self.config
        tcfg = cfg.topics.get(topic or "", TopicConfig())
        return cfg.exclude_fields | tcfg.exclude_fields | {*META_COLS, "topic"}

    def dedup_config(self, topic: str | None = None) -> DedupConfig:
        """The topic's dedup settings, else the global ones."""
        cfg = self.config
        tcfg = cfg.topics.get(topic or "", TopicConfig())
        return tcfg.dedup or cfg.dedup

    def route(
        self, df: DataFrame, topic: str | None = None
    ) -> tuple[DataFrame, list[str]]:
        """The routing half of `transform`: `df` with each record's
        output-file partition columns (the event-time cascade, the path
        format's segments and the optional bucket, which leads) and the
        arrival-order columns `ORDER_COLS` appended. Returns (df,
        partition_cols). Plan construction only: no job, no shuffle."""
        cfg = self.config
        tcfg = cfg.topics.get(topic or "", TopicConfig())
        # one dimension snapshot per route: resolving again for the
        # bucket below could route path segments and the bucket on two
        # DIFFERENT subject snapshots (TTL expiry between the calls)
        mp_dim = self._resolve_mp_dim()
        fmt = PathFormat(
            fmt=tcfg.path_format or cfg.path_format,
            time_bin_format=cfg.time_bin_format,
            extension="",
            custom_params=cfg.path_params,
            mp_dim=mp_dim,
        )
        ts = event_time(df)
        df, part_cols = fmt.partition_columns(df, ts)
        if cfg.bucket is not None:
            # bucket leads the grouping key: it is the output ROOT (object
            # store bucket / first local segment), computed per record like
            # every other path segment — same shuffle, no extra pass.
            # Inject the plan's param context (custom `${name}` resolvers,
            # the mp dimension, the configured bin format) unless the
            # BucketFormat instance carries its own: a YAML-loaded bucket
            # using `${mp:organization}` or a pathParams plugin must see
            # the same resolvers the path format above got.
            from dataclasses import replace as _dc_replace

            bucket = _dc_replace(
                cfg.bucket,
                time_bin_format=(
                    cfg.bucket.time_bin_format or cfg.time_bin_format
                ),
                custom_params=cfg.bucket.custom_params or cfg.path_params,
                mp_dim=(
                    cfg.bucket.mp_dim
                    if cfg.bucket.mp_dim is not None
                    else (mp_dim if "${mp:" in cfg.bucket.fmt else None)
                ),
            )
            # attach (not column): an ${mp:...} bucket needs its own
            # broadcast join — partition_columns dropped the path join's
            # mp_<attr> columns already
            df = bucket.attach(df, ts, out_col="pf_bucket")
            part_cols = ["pf_bucket", *part_cols]
        # Offset-aware arrival order (reference: files are processed in Kafka
        # offset order, RestructureWorker.kt). monotonically_increasing_id
        # alone follows SCAN-PARTITION order, and the file source bin-packs
        # splits sorted by size DESCENDING — so when several source files feed
        # one output bin, id order can diverge from offset order. Lead the
        # order key with (kafka_partition, offset_from) parsed from the
        # filename; the id breaks ties within one source file. For a file
        # larger than one scan split this relies on Scala sortBy being
        # STABLE: a file's max-size splits are generated in offset order and
        # compare equal on length, so the descending-length sort preserves
        # their relative order, and the (smaller) tail split sorts after
        # them — partition ids within one file therefore follow offset
        # order, and __pos remains a faithful in-file position.
        df = (
            df.withColumn("__ord_part", F.col("kafka_partition").cast("bigint"))
            .withColumn("__ord_off", F.col("offset_from").cast("bigint"))
            .withColumn("__pos", F.monotonically_increasing_id())
        )
        return df, part_cols

    def json_line(
        self, routed: DataFrame, part_cols: list[str], topic: str | None = None
    ) -> Column:
        """The JSON-lines writer's rendered line of each record of a
        `route`d frame: the record nesting kept (format/JsonAvroConverter.kt:
        30-60), `excludeFields` pruned in place, NULL fields explicit
        (Jackson writes them). Shared by `transform` and the cleaner's
        expectations, so both render the same bytes."""
        excluded = self.excluded_fields(topic)
        non_record = excluded | {*ORDER_COLS, *part_cols}
        record = pruned_struct(
            T.StructType(
                [f for f in routed.schema.fields if f.name not in non_record]
            ),
            excluded,
        )
        if record is None:
            raise ValueError(
                "excludeFields removes every value field for topic "
                f"{topic!r}; JSON output would be empty objects — "
                "narrow the excludeFields configuration"
            )
        return F.to_json(record, {"ignoreNullFields": "false"})

    def transform(
        self,
        df: DataFrame,
        topic: str | None = None,
        keep_cols: tuple[str, ...] = (),
    ) -> tuple[DataFrame, list[str]]:
        """Scan DataFrame -> flattened, partition-column-annotated DataFrame.

        Returns (df, partition_cols), hash-partitioned by partition_cols
        before the optional dedup window: the window and the writer then
        share that one shuffle. Plan construction only, except that
        `flatten` stores the pre-projection rows in one job when the schema
        has map/array leaves (functions/flatten.py); the writer reads those
        stored rows. `keep_cols`: extra scan columns carried through
        unchanged (the cleaner keeps `source_file` to attribute records
        back to sources when its check needs the dedup survivors).
        """
        cfg = self.config
        df, part_cols = self.route(df, topic)
        excluded = self.excluded_fields(topic)
        dedup_cfg = self.dedup_config(topic)

        if cfg.output_format == "json":
            # One rendered `line` column per record.
            lines = df.select(
                *[F.col(c) for c in part_cols],
                *[F.col(c) for c in ORDER_COLS],
                *[F.col(c) for c in keep_cols],
                self.json_line(df, part_cols, topic).alias("line"),
            ).repartition(*part_cols)
            if dedup_cfg.enable:
                # JSON dedup is whole-line keep-FIRST regardless of
                # distinct/ignore config (RecordConverterFactory.kt:63-92,
                # divergent from CSV by design — SURVEY D4)
                lines = dedup_keep_first(
                    lines, ORDER_COLS, [*part_cols, "line"], None, restore_order=False
                )
            return lines, part_cols

        # CSV output renders every leaf to its Java toString form JVM-side
        # (exact reference parity, zero Python in the row path). Parquet —
        # the beyond-reference typed sink — keeps the leaves TYPED: same
        # flat projection and dotted names, no string rendering, so
        # downstream Spark reads columns back at native types.
        flat = flatten(
            df,
            rendered=cfg.output_format != "parquet",
            excluded=excluded | {*ORDER_COLS, *part_cols},
            keep=[*part_cols, *ORDER_COLS, *keep_cols],
        ).repartition(*part_cols)
        if dedup_cfg.enable:
            # Dedup scope is ONE OUTPUT FILE in the reference (FileCache close),
            # so the partition columns always join the distinct key; the order
            # columns are never part of the key, and neither are keep_cols:
            # the cleaner passes keep_cols=('source_file',) and a key
            # containing it would keep different survivors than the writer's
            # transform (which never sees that column) — every cross-file
            # duplicate would then fail verification and loop
            # revoke/re-extract forever. The record fields of the key follow
            # the writers' rule (distinct fields, else minus ignored, else
            # all), so a field the topic lacks falls back, not fails.
            hidden = {*part_cols, *ORDER_COLS, *keep_cols}
            fields = [c for c in flat.columns if c not in hidden]
            idxs = key_field_indexes(
                fields, dedup_cfg.distinct_fields, dedup_cfg.ignore_fields
            )
            key = fields if idxs is None else [fields[i] for i in idxs]
            flat = dedup_keep_last(
                flat, ORDER_COLS, [*part_cols, *key], None, restore_order=False
            )
        return flat, part_cols

    def _schema_canon(self, path: str) -> str:
        """Canonical source-file schema as Spark StructType JSON, dispatched
        on source_format — parquet reads the footer, avro the container
        header; both are O(KB) regardless of file size. A Spark-typed canon
        is format-agnostic: the same logical schema fingerprints identically
        whether the file arrived as avro or parquet."""
        if self.config.source_format == "avro":
            from radar_output_restructure_spark.sources import avro_io

            with self.source_storage.open_seekable(path) as fh:
                schema = avro_io.read_schema(fh)
            struct, _ = avro_io.avro_to_spark_type(schema)
            return struct.json()
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # pyarrow takes any seekable file-like: local handle or the
        # driver-side Hadoop stream adapter (footer-sized reads only)
        with self.source_storage.open_seekable(path) as fh:
            return from_arrow_schema(pq.read_schema(fh)).json()

    def _schema_canon_safe(self, path: str) -> str | None:
        """None for files whose metadata cannot be parsed (truncated upload,
        wrong format). The reference logs per-file errors and continues
        (worker/RestructureWorker.kt:105-111); skipped files stay
        uncommitted, so the next run retries them once repaired. The schema
        read doubles as the corruption probe for both formats — magic bytes
        and footer/header structure are validated before any executor work."""
        try:
            return self._schema_canon(path)
        except Exception as exc:
            logger.error(
                "skipping unreadable source file %s: %s", path, exc
            )
            return None

    @Timer.time("restructure.schema")
    def _fingerprint_groups(
        self, topic: str, files: list[FileEntry]
    ) -> list[tuple[int, str | None, list[list[FileEntry]]]]:
        """Group candidate files by source-schema fingerprint, resolve each
        fingerprint to its persistent attempt suffix (SURVEY §1.3:
        schema-evolution-by-suffix at file granularity), and gather the
        fingerprint groups per attempt.

        Returns [(attempt, superset schema JSON, [file groups])] sorted by
        attempt. Several fingerprint groups share one attempt when their
        schemas are order-preserving subsets of the attempt's superset schema
        (reference subset-write semantics, CsvAvroConverterTest.kt subSchema);
        their rows null-fill into the superset projection at read time.
        """
        import hashlib

        canons = self.schema_cache.get_many(files, self._schema_canon_safe)
        # unreadable files are absent from `canons`: left uncommitted for a
        # retry next run, everything else proceeds (reference per-file
        # error handling)
        files = [f for f in files if f.path in canons]
        by_fp: dict[str, list[FileEntry]] = {}
        fp_canon: dict[str, str] = {}
        order: list[str] = []
        for f in files:
            fp = hashlib.md5(canons[f.path].encode()).hexdigest()
            if fp not in by_fp:
                order.append(fp)
                fp_canon[fp] = canons[f.path]
            by_fp.setdefault(fp, []).append(f)
        attempts, schemas = self.attempts.assign(
            topic, [(fp, fp_canon[fp]) for fp in order]
        )
        per_attempt: dict[int, list[list[FileEntry]]] = {}
        for fp, group in by_fp.items():
            per_attempt.setdefault(attempts[fp], []).append(group)
        return [
            (attempt, schemas.get(str(attempt)), groups)
            for attempt, groups in sorted(per_attempt.items())
        ]

    def attempt_extension(self, attempt: int) -> str:
        """Target file extension of a schema attempt (`_<attempt>` before
        the format extension from attempt 1 on), shared by the writer and
        the cleaner's expectation paths."""
        cfg = self.config
        return (f"_{attempt}" if attempt else "") + output_extension(
            cfg.output_format, cfg.compression
        )

    def write_frame(
        self,
        flat: DataFrame,
        part_cols: list[str],
        topic: str,
        value_schema: T.StructType,
        attempt: int = 0,
    ) -> list[str]:
        """Write one transformed frame of `topic` into the output tree —
        the one write call of the batch and the streaming restructure.
        The schema sidecar is written for attempt 0 only."""
        cfg = self.config
        return write_output_tree_direct(
            flat,
            cfg.output_dir,
            part_cols,
            fmt=cfg.output_format,
            compression=cfg.compression,
            extension=self.attempt_extension(attempt),
            topic_col="pf_topic",
            value_schema=value_schema if attempt == 0 else None,
            order_col=ORDER_COLS,
            storage=self.target_storage,
            dedup=self.file_dedup(topic),
        )

    def attempt_frames(self, topic: str, files: list[FileEntry]):
        """Yield (attempt, superset schema, unioned DataFrame, files) per
        attempt: every fingerprint group read, conformed to the attempt's
        superset (null-fill subset-write rule; identity for the defining
        group) and unioned BEFORE any transform.

        THE single definition of the read+conform+union step — run_topic
        (the writer) and the cleaner's _source_expectations must see
        byte-identical frames, or dedup keeps different survivors in
        verification than were written and the cleaner revokes/re-extracts
        the same files forever (`SourceDataCleaner._source_expectations`)."""
        cfg = self.config
        for attempt, schema_json, fp_groups in self._fingerprint_groups(
            topic, files
        ):
            sup = (
                T.StructType.fromJson(json.loads(schema_json))
                if schema_json
                else None
            )
            dfs = []
            for group in fp_groups:
                d = read_topic_tree(
                    self.spark, cfg.input_dir, topic=topic,
                    file_format=cfg.source_format,
                    paths=[f.path for f in group],
                )
                if sup is not None:
                    d = conform_to(d, sup, keep=[*META_COLS, "topic"])
                dfs.append(d)
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionByName(other)
            yield attempt, sup, df, [f for g in fp_groups for f in g]

    def run_topic(self, topic: str) -> list[str]:
        files = self.list_candidate_files(topic)
        if not files:
            return []
        finals: list[str] = []
        for attempt, sup, df, group in self.attempt_frames(topic, files):
            flat, part_cols = self.transform(df, topic)
            # fallback when the registry stored no schema (legacy flat
            # attempts): drop 'topic' too — it is path metadata the sidecar
            # must not advertise, not record content
            value_schema = (
                sup
                if sup is not None
                else df.drop(*META_COLS, "topic").schema
            )
            with Timer.time("restructure.write"):
                finals += self.write_frame(
                    flat, part_cols, topic, value_schema, attempt
                )
            # Write-then-commit (T2) PER fingerprint group: the reference
            # commits accounting per file batch (worker loop), so a crash
            # exposes only the in-flight batch. Committing once per topic
            # would re-append every already-written group on rerun.
            with Timer.time("accounting.commit"):
                self.manifest.commit(group)
        return sorted(finals)

    def _run_topic_locked(self, topic: str) -> list[str]:
        """Per-topic entry honoring the optional T5 lock: a topic held by
        another instance is skipped this run, exactly like the reference's
        `lockManager.tryWithLock(topic) ?: logger.info("Skipping...")`
        (RadarKafkaRestructure.kt:108-128). The next run retries it."""
        if self._lock_manager is None:
            return self.run_topic(topic)
        with self._lock_manager.try_with_lock(topic) as lock:
            if lock is None:
                logger.info(
                    "Skipping topic %s: locked by another instance", topic
                )
                return []
            return self.run_topic(topic)

    def run(self) -> dict[str, list[str]]:
        """Process every topic; `num_threads > 1` runs topics concurrently
        (the reference's worker pool, worker/RadarKafkaRestructure.kt). Spark
        job submission is thread-safe; the manifest/fingerprint-cache appends
        are lock-guarded, and per-topic state (attempt registries) is
        per-file. FAIR scheduling lets short topics finish under long ones
        (set spark.scheduler.mode=FAIR for strict fairness)."""
        if self.storage_index is not None:
            # S9: one incremental index refresh per cycle — O(new files)
            # LIST requests on the steady state, full re-sync on its timer
            self.storage_index.update()
        # bound the ledger's segment count: every commit appends one, every
        # load replays them all — a long-lived service would otherwise pay
        # O(runs) small-object reads per topic per cycle (concurrent-append
        # safe: manifest.compact's name-anchored segment)
        self.manifest.maybe_compact()
        topics = self.topics()
        # Per-topic error ISOLATION (worker/RestructureWorker.kt logs and
        # continues): one topic's transient read error or config mistake
        # must not abort the cycle and starve every other topic. Failed
        # topics stay uncommitted (write-then-commit), so the next run
        # retries them; the exceptions are kept on `last_errors` for
        # callers that want to surface them.
        self.last_errors: dict[str, BaseException] = {}

        def one(topic: str) -> list[str]:
            try:
                return self._run_topic_locked(topic)
            except Exception as exc:
                logger.exception(
                    "topic %s failed this cycle; will retry next run", topic
                )
                self.last_errors[topic] = exc
                return []

        n = max(1, int(self.config.num_threads or 1))
        if n == 1 or len(topics) <= 1:
            return {t: one(t) for t in topics}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(n, len(topics))) as pool:
            results = list(pool.map(one, topics))
        return dict(zip(topics, results))
