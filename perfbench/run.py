#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Makes the workload's inputs from the seed
(cached under perfbench/.work/inputs), starts one SparkSession on
local[nproc] with a fixed driver heap, sets up, runs the workload as a
closed loop for the given seconds, checks its outputs and prints one JSON
object as the last line of standard output. Timings are scaled to a
reference host speed that the run measures (`HostSpeed`). The line before
it carries diagnostics: host quiet-window gates and speed samples,
generation time, sample counts, unscaled timings and the workload's own
timings. With `--trace 1` the run measures untraced
first, then again with spans and the Spark event log on, and reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS  # noqa: E402
from radar_output_restructure_spark.timer import Timer  # noqa: E402

DRIVER_MEMORY = "2g"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# ---------------------------------------------------------------------------
# host measurements
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def busy_and_steal(a: list[int], b: list[int]) -> tuple[float, float]:
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return (total - idle) / total, d[7] / total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of `root` and
    every process below it: the driver, the JVM and the Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# CPU seconds one process spends on `_reference_kernel`, four at once, on
# the 4-vCPU development box (Xeon, KVM guest); the unit of the scaled
# figures
REFERENCE_KERNEL_S = 0.15


def _reference_kernel(_) -> float:
    """A fixed mix of interpreter loop and numpy sorting; returns the CPU
    seconds it took this process."""
    import numpy as np

    t0 = time.process_time()
    x = 0
    for i in range(600_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    rng = np.random.default_rng(0)
    for _ in range(4):
        np.sort(rng.random(1 << 19))
    return time.process_time() - t0


class HostSpeed:
    """How fast the host runs a fixed reference kernel right now.

    The shared hosts this benchmark runs on change speed by up to 2x when
    their other tenants come and go (shared cores, clock), and CPU seconds
    follow: an operation costs about twice the CPU seconds under
    contention. The kernel runs in one process per CPU at once, like the
    workload, between operations; `scale()` turns the program's seconds
    into seconds on the reference host."""

    def __init__(self, ncpu: int):
        self.ncpu = ncpu
        self.pool = multiprocessing.get_context("fork").Pool(ncpu)
        self.samples: list[float] = []

    def sample(self) -> None:
        self.samples += self.pool.map(_reference_kernel, range(self.ncpu))

    def scale(self) -> float:
        return REFERENCE_KERNEL_S / statistics.median(self.samples)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def session(work: str, ncpu: int, event_log: str | None):
    from radar_output_restructure_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap: no resizing decisions that depend on timing. Every
        # heap page is touched at start: how many pages the collector
        # touches otherwise depends on its adaptive sizing and made the
        # peak RSS of two runs differ by 400 MB. No hsperfdata file, which
        # the JVM would put in /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{ncpu}]",
        shuffle_partitions=ncpu, extra_conf=conf,
    )


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it ends when the
    pipe to its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def one_op(wl, tracer=None):
    """One operation, with its process-tree CPU time and host steal share.
    A traced operation is one `bench.op` span."""
    cpu0, host0 = tree_cpu_s(os.getpid()), cpu_times()
    if tracer is None:
        sample = wl.op()
    else:
        with tracer.span("bench.op"):
            sample = wl.op()
    sample.cpu_s = tree_cpu_s(os.getpid()) - cpu0
    sample.steal_frac = busy_and_steal(host0, cpu_times())[1]
    return sample


def measure(wl, seconds: float, host: HostSpeed, tracer=None) -> tuple[list, list]:
    """Closed loop: run operations until `seconds` have passed and at least
    `min_ops` completed, with a host-speed sample before each. Returns
    (untraced, traced) samples. With a tracer, operations alternate
    untraced and traced, so both halves see the same warm-up state."""
    untraced, traced = [], []
    end = time.perf_counter() + seconds
    try:
        while len(untraced) < wl.min_ops or time.perf_counter() < end:
            host.sample()
            untraced.append(one_op(wl))
            if tracer is not None:
                tracer.active = Timer.enabled = True
                try:
                    traced.append(one_op(wl, tracer))
                finally:
                    tracer.active = Timer.enabled = False
    except IndexError:  # the workload ran out of prepared inputs
        pass
    host.sample()
    return untraced, traced


def decode_rate(work: str) -> float:
    """Single-thread `avro_io.read_container` records/s over a fixed
    2000-record sample."""
    import numpy as np

    from perfbench import gen
    from radar_output_restructure_spark.sources import avro_io

    rng = np.random.default_rng(0)
    recs = [
        {
            "key": {"projectId": "p", "userId": f"u{i % 7}", "sourceId": "s"},
            "value": {
                "time": 1.6e9 + i, "timeReceived": 1.6e9 + i + 0.5,
                "position": {"x": float(rng.random()), "y": float(rng.random())},
                "samples": [float(v) for v in rng.random(3)],
                "status": gen.STATUS[i % 4],
            },
        }
        for i in range(2000)
    ]
    path = os.path.join(work, "decode-sample.avro")
    avro_io.write_container(path, gen.record_schema(1), recs)
    with open(path, "rb") as fh:
        data = fh.read()
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        n += len(avro_io.read_container(data)[1])
    return n / (time.perf_counter() - t0)


def layer_metrics(wl, tracer, samples, untraced, stages, jobs, work, native_avro) -> dict:
    """Per-layer metrics from the traced `samples`: self times and counts
    from the spans, bytes and task times from the event log's stages."""
    n = max(1, len(samples))
    selfs = tracer.self_times()
    c = tracer.counts
    traced = {k: v for k, v in stages.items() if v.layer not in (None, "bench.setup")}
    traced_jobs = [d for d in jobs if d not in (None, "bench.setup")]
    every = trace.layer_totals(traced)
    writer = trace.layer_totals(traced, "sinks.writers")
    parts = [s.parts for s in samples]
    files_written = sum(p.get("files_written", 0) for p in parts)
    appended = sum(p.get("appended", 0) for p in parts)
    clean_passes = [p for p in parts if "deleted" in p]
    n_clean = max(1, len(clean_passes))
    deleted = sum(p["deleted"] for p in clean_passes)
    revoked = sum(p["revoked"] for p in clean_passes)
    timer = Timer.entries()
    untraced_wall = sum(s.wall for s in untraced)
    traced_wall = sum(s.wall for s in samples)
    covered = sum(v for k, v in selfs.items() if k != "bench.op")
    lookups = c.get("schema.lookups", 0)

    def per_op(name):
        return selfs.get(name, 0.0) / n

    out = {
        "sources.manifest.load_s": per_op("sources.manifest.load"),
        "sources.manifest.loads": c.get("sources.manifest.loads", 0) / n,
        "sources.manifest.entries": c.get("sources.manifest.entries", 0)
        / max(1, c.get("sources.manifest.loads", 0)),
        "sources.manifest.prune_s": per_op("sources.manifest.prune"),
        "sources.manifest.commit_s": per_op("sources.manifest.commit"),
        "plans.restructure.run_s": per_op("plans.restructure.run"),
        "plans.restructure.list_s": per_op("plans.restructure.list"),
        "plans.restructure.files_listed": c.get("plans.restructure.files_listed", 0) / n,
        "plans.restructure.files_pruned": c.get("plans.restructure.files_pruned", 0) / n,
        "plans.restructure.schema_s": per_op("plans.restructure.schema"),
        "plans.restructure.schema_cache_hit_frac": (
            1.0 - c.get("schema.misses", 0) / lookups if lookups else 0.0
        ),
        "plans.restructure.transform_s": per_op("plans.restructure.transform"),
        "plans.path_format.build_s": per_op("plans.path_format.build"),
        "functions.flatten.build_s": per_op("functions.flatten.build"),
        "operators.dedup.build_s": per_op("operators.dedup.build"),
        "operators.dedup.dropped_frac": getattr(wl, "dropped_frac", 0.0),
        "sources.kafka_tree.read_s": per_op("sources.kafka_tree.read"),
        "sources.kafka_tree.native_avro": float(native_avro),
        "sources.avro_io.decode_records_per_s": decode_rate(work),
        "spark.python.sent_mb": every["py_sent_mb"] / n,
        "spark.python.received_mb": every["py_recv_mb"] / n,
        "sinks.writers.write_s": per_op("sinks.writers.write"),
        "sinks.writers.files_written": files_written / n,
        "sinks.writers.append_frac": appended / files_written if files_written else 0.0,
        "sinks.writers.bytes_written_mb": sum(p.get("bytes_written", 0) for p in parts)
        / n / 2**20,
        "sinks.writers.shuffle_write_mb": writer["shuffle_write_mb"] / n,
        "sinks.writers.shuffle_read_mb": writer["shuffle_read_mb"] / n,
        "sinks.writers.spill_mb": writer["spill_mb"] / n,
        "sinks.writers.task_skew": writer["task_skew"] if writer["stages"] else 0.0,
        "spark.scan.input_mb": every["input_mb"] / n,
        "spark.executor_run_s": every["run_s"] / n,
        "spark.executor_cpu_s": every["cpu_s"] / n,
        "spark.jvm_gc_s": every["gc_s"] / n,
        "spark.jobs": len(traced_jobs) / n,
        "spark.stages": every["stages"] / n,
        "spark.tasks": every["tasks"] / n,
        "streaming.service.cycle_s": per_op("streaming.service.cycle"),
        "plans.cleaner.run_s": selfs.get("plans.cleaner.run", 0.0) / n_clean,
        "plans.cleaner.candidates_s": selfs.get("plans.cleaner.candidates", 0.0) / n_clean,
        "plans.cleaner.verify_s": selfs.get("plans.cleaner.verify", 0.0) / n_clean,
        "plans.cleaner.delete_s": timer.get("cleaner.delete", (0, 0.0, 0))[1] / n_clean,
        "plans.cleaner.target_read_mb": c.get("cleaner.target_bytes", 0) / n_clean / 2**20,
        "plans.cleaner.deleted": deleted / n_clean,
        "plans.cleaner.revoked": revoked / n_clean,
        "plans.cleaner.verified_frac": deleted / (deleted + revoked) if deleted + revoked else 0.0,
        "trace.overhead_frac": traced_wall / untraced_wall - 1.0,
        "trace.self_cover_frac": covered / traced_wall,
    }
    for q in REGISTRY_QUERIES:
        out[f"registry.{q}.build_s"] = per_op(f"registry.{q}.build")
        out[f"registry.{q}.exec_s"] = per_op(f"registry.{q}.exec")
        reg = trace.layer_totals(traced, f"registry.{q}.")
        out[f"registry.{q}.shuffle_write_mb"] = reg["shuffle_write_mb"] / n
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="tiny inputs, for the smoke test; figures are not comparable",
    )
    args = ap.parse_args(argv)

    t_start = cpu_times()
    time.sleep(0.5)
    busy, _ = busy_and_steal(t_start, cpu_times())
    t_start = cpu_times()
    loadavg = os.getloadavg()

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    cache = os.path.join(work_root, "inputs")
    tmp = os.path.join(work, "tmp")
    for d in (work, cache, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers and child processes
    tempfile.tempdir = tmp  # this process, even if it already asked
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    ncpu = len(os.sched_getaffinity(0))
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = host = None
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        wl = WORKLOADS[args.workload](None, work, cache, args.seed, args.tiny)
        wl.make_inputs()
        phase("gen")
        host = HostSpeed(ncpu)  # forks its processes before the JVM starts
        host.sample()
        phase("host")
        host_setup = cpu_times()
        spark = session(work, ncpu, event_log)
        wl.spark = spark
        phase("session")
        spark.sparkContext.setJobDescription("bench.setup")
        wl.setup()
        for _ in range(wl.warmup_ops):
            wl.op()
        phase("setup")
        # the share of the wanted CPU time the hypervisor stole stretched
        # the wall time; set-up without it is what the program took
        busy_setup, steal_setup = busy_and_steal(host_setup, cpu_times())
        setup_wall = phases["session"] + phases["setup"]
        setup_s = setup_wall * (1.0 - steal_setup / busy_setup)
        spark.sparkContext.setJobDescription(None)
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark)
            trace.install_engine_spans(tracer)
            tracer.active = False
            wl.tracer = tracer
            Timer.reset()
        samples, traced = measure(wl, args.seconds, host, tracer)
        if tracer is not None:
            tracer.unpatch()
        phase("measure")
        attempted, failed = wl.check()
        phase("check")
        from radar_output_restructure_spark.sources.kafka_tree import has_native_avro

        native_avro = has_native_avro(spark)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_python, rss_jvm = vm_hwm_mb(), vm_hwm_mb(jvm_pid)
        peak_rss = rss_python + rss_jvm
        busy_run, steal = busy_and_steal(t_start, cpu_times())
    finally:
        if spark is not None:
            stop(spark)
        if host is not None:
            host.close()
    phase("stop")
    if args.trace:
        stages, jobs = trace.read_event_log(event_log)
        layers = layer_metrics(wl, tracer, traced, samples, stages, jobs, work, native_avro)
        trace.write_artifact(
            os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"),
            tracer, stages, layers,
        )

    attempted += sum(s.attempted for s in samples)
    failed += sum(s.failed for s in samples)
    walls = [s.wall for s in samples]
    scale = host.scale()
    op_cpu = [s.cpu_s * scale for s in samples]
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": ncpu,
        "driver_memory": DRIVER_MEMORY,
        "steal_frac": round(steal, 5),
        "host_busy_frac": round(busy, 4),
        "run_busy_frac": round(busy_run, 4),
        "loadavg": [round(x, 2) for x in loadavg],
        "quiet": steal < 0.005 and busy < 0.05,
        "gen_s": round(wl.gen_s, 3),
        "gen_cached": wl.gen_cached,
        "has_native_avro": native_avro,
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "ops": len(samples),
        "records_per_op": samples[0].records if samples else 0,
        "op_s_min": min(walls),
        "op_s_p50": statistics.median(walls),
        "op_s_p90": quantile(walls, 0.9),
        "records_per_s": max(s.records / s.wall for s in samples),
        "rss_python_mb": round(rss_python, 1),
        "rss_jvm_mb": round(rss_jvm, 1),
        "op_walls": [round(w, 4) for w in walls],
        "op_cpu_s": [round(x.cpu_s, 3) for x in samples],
        "op_steal": [round(x.steal_frac, 4) for x in samples],
        "host_kernel_s": [round(x, 4) for x in host.samples],
        "host_scale": scale,
        "op_ref_cpu_s": [round(x, 3) for x in op_cpu],
        "setup_wall_s": setup_wall,
        "setup_steal_frac": round(steal_setup, 5),
        "failed_frac": failed / attempted,
        **wl.diag,
    }
    for part in ("cycle_s", "clean_s"):
        vals = [s.parts[part] for s in samples if part in s.parts]
        if vals:
            diag[f"{part}_p50"] = statistics.median(vals)
            diag[f"{part}_p90"] = quantile(vals, 0.9)
    print(json.dumps({"diagnostics": diag}))
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, listed = layers, SPEC["per_layer"]
    else:
        values = {
            "setup_s": setup_s * scale,
            "op_cpu_s": statistics.fmean(op_cpu[: wl.min_ops]),
            "peak_rss_mb": peak_rss,
        }
        listed = SPEC["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
