"""radar_output_restructure_spark — a PySpark-native engine with the query and
data-processing capabilities of RADAR-base/radar-output-restructure.

The reference (Kotlin, record-at-a-time coroutine pipeline; see /root/reference)
reads Kafka-sink Avro topic trees and rewrites every record into a
project/user/topic/hourly-bin output tree as flattened CSV or JSON-lines.
This package re-expresses the whole capability surface as declarative Spark
DataFrame plans (Catalyst-optimized, whole-stage-codegen'd), plus the
large-scale training-data operators (dedup families, similarity search,
text analysis, multimodal plumbing) the reference lacks.

Layout:
  functions/  — pure Column builders (event-time cascade, sanitizers,
                flattener, Java-compatible renderings, hashing)
  sources/    — topic-tree readers (avro/parquet) and the processed-file manifest
  operators/  — dedup variants, time-binning, exclusion, text analysis,
                minhash/simhash/jaccard dedup, similarity search, multimodal
  plans/      — the path-format ${...} DSL and end-to-end pipeline plans
  sinks/      — exact-name CSV/JSON writers with schema sidecars
  streaming/  — Structured Streaming service mode
"""

__version__ = "0.1.0"

from radar_output_restructure_spark.session import get_spark  # noqa: F401


def _skip_unchanged_zip_rereads() -> None:
    """Make `zipimporter.invalidate_caches()` re-read an archive's directory
    only when the archive changed, i.e. its (inode, size, mtime) differs
    from what that importer last read, or it cannot be stat'ed.

    pyspark's worker calls `importlib.invalidate_caches()` before every task
    (`worker_util.setup_spark_files`), and on CPython < 3.13 each zipimporter
    then eagerly re-parses its archive's central directory: pyspark.zip, the
    py4j zip and the spark-core jar, ~27k entries and about 0.25 s of CPU
    per task in a reused worker. CPython 3.13 made the invalidation lazy
    (gh-103200). A changed archive goes to the original method unchanged.
    Installed on package import, so every worker that unpickles a package
    function gets it; a fresh worker's first task has paid by then."""
    import os
    import sys
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except (OSError, ValueError):
            stamp = None
        if stamp is None or stamp != self.__dict__.get("_read_stamp"):
            original(self)
            self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
