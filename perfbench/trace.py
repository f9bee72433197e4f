"""Spans around the engine's public calls, and the Spark event-log reader.

A traced run patches the module or class attribute that each caller looks
up (for example `write_output_tree_direct` in the `plans.restructure`
namespace, not in `sinks.writers`), so the package itself is unchanged.
Every span is kept in memory as (name, start, end, parent) and, while it
is open, is the Spark job description, so the stages Spark runs inside it
can be attributed to its layer from the event log.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.active = True  # while False, wrapped calls pass straight through

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; while it is open it is the Spark job
        description, so the jobs started inside are attributed to it."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.spark.sparkContext.setJobDescription(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]].name if self._stack else None
            self.spark.sparkContext.setJobDescription(outer)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` with a spanned call; `after(args, kwargs,
        result)` may record counts once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time: each span's duration minus the time
        its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return out


def install_engine_spans(tracer: Tracer) -> None:
    """Spans on the restructure, cleaner and service paths."""
    from radar_output_restructure_spark.plans import cleaner, path_format, restructure
    from radar_output_restructure_spark.sources import manifest
    from radar_output_restructure_spark.streaming import service

    c = tracer.counts

    def count_load(args, kwargs, result):
        c["sources.manifest.loads"] += 1
        c["sources.manifest.entries"] += len(result)

    def count_prune(args, kwargs, result):
        c["plans.restructure.files_listed"] += len(args[1])
        c["plans.restructure.files_pruned"] += len(args[1]) - len(result)

    tracer.wrap(service, "run_service", "streaming.service.cycle")
    tracer.wrap(restructure.RestructurePlan, "run", "plans.restructure.run")
    tracer.wrap(restructure.RestructurePlan, "list_candidate_files", "plans.restructure.list")
    tracer.wrap(restructure.RestructurePlan, "_fingerprint_groups", "plans.restructure.schema")
    tracer.wrap(restructure.RestructurePlan, "transform", "plans.restructure.transform")
    tracer.wrap(restructure, "read_topic_tree", "sources.kafka_tree.read")
    tracer.wrap(restructure, "flatten", "functions.flatten.build")
    tracer.wrap(restructure, "dedup_keep_last", "operators.dedup.build")
    tracer.wrap(path_format.PathFormat, "partition_columns", "plans.path_format.build")
    tracer.wrap(restructure, "write_output_tree_direct", "sinks.writers.write")
    tracer.wrap(manifest.ProcessedFileManifest, "load", "sources.manifest.load", count_load)
    tracer.wrap(manifest.ProcessedFileManifest, "prune", "sources.manifest.prune", count_prune)
    tracer.wrap(manifest.ProcessedFileManifest, "commit", "sources.manifest.commit")
    tracer.wrap(cleaner.SourceDataCleaner, "run", "plans.cleaner.run")
    tracer.wrap(cleaner.SourceDataCleaner, "candidate_files", "plans.cleaner.candidates")
    tracer.wrap(cleaner.SourceDataCleaner, "verify_topic", "plans.cleaner.verify")

    def count_targets(args, kwargs, result):
        c["cleaner.target_bytes"] += sum(
            os.path.getsize(p) for p in args[1] if os.path.exists(p)
        )

    tracer.wrap(
        cleaner.SourceDataCleaner, "_target_rows", "plans.cleaner.target_rows",
        count_targets,
    )

    orig_get_many = manifest.SchemaFingerprintCache.get_many

    def get_many(self, files, compute):
        if not tracer.active:
            return orig_get_many(self, files, compute)

        def counted(path):
            c["schema.misses"] += 1
            return compute(path)

        c["schema.lookups"] += len(files)
        return orig_get_many(self, files, counted)

    tracer._patches.append((manifest.SchemaFingerprintCache, "get_many", orig_get_many))
    manifest.SchemaFingerprintCache.get_many = get_many


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_MB = 1024 * 1024


@dataclass
class StageStats:
    layer: str | None
    input_b: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    py_sent_b: float = 0.0
    py_recv_b: float = 0.0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    tasks: int = 0
    task_ms: list | None = None


def read_event_log(log_dir: str) -> tuple[dict[int, StageStats], list]:
    """(stage id -> stats, job descriptions). Each stage is attributed to
    the description of the job that ran it: the innermost open span."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_layer: dict[int, str | None] = {}
    stages: dict[int, StageStats] = {}
    jobs: list[str | None] = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    jobs.append(desc)
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, StageStats(None, task_ms=[]))
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st.spill_b += m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables") or []:
                        name = acc.get("Name") or ""
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if name == "data sent to Python workers":
                            st.py_sent_b += upd
                        elif name == "data returned from Python workers":
                            st.py_recv_b += upd
    for sid, st in stages.items():
        st.layer = stage_layer.get(sid)
    return stages, jobs


def layer_totals(stages: dict[int, StageStats], prefix: str | None = None) -> dict:
    """Summed stage stats, over every stage or over the stages whose
    layer starts with `prefix`."""
    sel = [
        s for s in stages.values()
        if prefix is None or (s.layer or "").startswith(prefix)
    ]
    skews = []
    for s in sel:
        if s.task_ms and len(s.task_ms) > 1:
            med = statistics.median(s.task_ms)
            if med > 0:
                skews.append(max(s.task_ms) / med)
    return {
        "input_mb": sum(s.input_b for s in sel) / _MB,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in sel) / _MB,
        "shuffle_read_mb": sum(s.shuffle_read_b for s in sel) / _MB,
        "spill_mb": sum(s.spill_b for s in sel) / _MB,
        "py_sent_mb": sum(s.py_sent_b for s in sel) / _MB,
        "py_recv_mb": sum(s.py_recv_b for s in sel) / _MB,
        "run_s": sum(s.run_ms for s in sel) / 1000.0,
        "cpu_s": sum(s.cpu_ns for s in sel) / 1e9,
        "gc_s": sum(s.gc_ms for s in sel) / 1000.0,
        "stages": len(sel),
        "tasks": sum(s.tasks for s in sel),
        "task_skew": max(skews) if skews else 1.0,
    }


def write_artifact(path: str, tracer: Tracer, stages: dict[int, StageStats], layers: dict) -> None:
    """One JSON file per traced run: the spans, the per-stage stats with
    their layer, and the per-layer metrics."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = tracer.spans[0].start if tracer.spans else 0.0
    doc = {
        "spans": [
            {"name": s.name, "start": s.start - t0, "end": s.end - t0, "parent": s.parent}
            for s in tracer.spans
        ],
        "stages": {
            str(sid): {k: v for k, v in vars(st).items() if k != "task_ms"}
            for sid, st in sorted(stages.items())
        },
        "layers": layers,
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)
