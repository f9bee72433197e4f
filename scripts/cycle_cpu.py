#!/usr/bin/env python3
"""Where one polling-service cycle spends its CPU.

    python3 scripts/cycle_cpu.py [--ops 4] [--seed 1] [--work .work/cycle_cpu]

Runs `--ops` operations of the benchmark's `poll_append` workload (one
restructure service iteration plus one cleaner iteration over landed Avro
files) through perfbench's own workload class and Spark session settings,
and prints, per operation, the CPU seconds (user + system) of:

* the driver Python process;
* the JVM, split by thread name read from /proc/<pid>/task: JIT compiler
  threads, executor task threads, py4j connection threads (unnamed
  `Thread-N`), GC threads and everything else (scheduler, shuffle, ...).
  A thread that exits during an operation takes its seconds out of its
  group and into `jvm.other` (the JVM retires idle compiler threads), so
  the JVM total is exact but a group can read negative;
* the Python workers (the JVM's child processes, the daemon and the
  workers it forked and reaped).

It also prints the Spark jobs each operation launched and the tasks they
ran (each stage once, skipped stages none), from
`SparkContext.statusTracker()`, so a change in job count shows without a
traced run.

A per-task fixed cost shows as Python-worker seconds that do not move with
the records decoded; a job launch shows as JVM scheduler and py4j seconds.
Seconds are raw CPU seconds on the host the script runs on, not scaled to
the benchmark's reference speed. perfbench is only imported, never
changed; the generated inputs are cached under `--work`.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")

# JVM thread name (comm, 15 chars, trailing counter stripped) -> group
THREAD_GROUPS = [
    ("jit", re.compile(r"^C[12] CompilerThre")),
    ("executor", re.compile(r"^Executor task l")),
    ("py4j", re.compile(r"^Thread$")),
    ("gc", re.compile(r"^(GC Thread|G1 |VM Thread)")),
]
COLUMNS = ["driver", "jvm.jit", "jvm.executor", "jvm.py4j", "jvm.gc", "jvm.other", "workers"]


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def _thread_group(name: str) -> str:
    base = re.sub(r"[\d#-]+$", "", name)
    for group, pattern in THREAD_GROUPS:
        if pattern.search(base):
            return group
    return "other"


def jvm_threads(pid: int) -> dict[str, float]:
    """CPU seconds of the JVM (`jvm`, exited threads included) and of its
    live threads per named group (`jvm.<group>`)."""
    f = _stat_fields(f"/proc/{pid}/stat")
    out = {"jvm": (int(f[11]) + int(f[12])) / TICK}
    for tid in os.listdir(f"/proc/{pid}/task"):
        f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        if f is None:
            continue
        key = "jvm." + _thread_group(name)
        out[key] = out.get(key, 0.0) + (int(f[11]) + int(f[12])) / TICK
    return out


def descendants_cpu(root: int) -> float:
    """CPU seconds of every process below `root`, reaped children included."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat_fields(f"/proc/{d}/stat")
        if f is None:
            continue
        children.setdefault(int(f[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in f[11:15])
    ticks, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return ticks / TICK


def spark_jobs(sc) -> set[int]:
    """Ids of the jobs Spark has run outside any job group (every job of
    the workload, whichever Python thread launched it)."""
    return set(sc.statusTracker().getJobIdsForGroup(None))


def spark_counts(sc, jobs: set[int]) -> tuple[int, int]:
    """(jobs, tasks) for the job ids `jobs`: completed tasks of every stage
    the jobs touched, counting a stage shared by two jobs once."""
    tracker = sc.statusTracker()
    stages = {
        s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds
    }
    tasks = sum(
        st.numCompletedTasks for s in stages if (st := tracker.getStageInfo(s))
    )
    return len(jobs), tasks


def snapshot(jvm_pid: int) -> dict[str, float]:
    f = _stat_fields("/proc/self/stat")
    snap = {"driver": (int(f[11]) + int(f[12])) / TICK}
    snap.update(jvm_threads(jvm_pid))
    snap["workers"] = descendants_cpu(jvm_pid)
    return snap


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ops", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=os.path.join(ROOT, ".work", "cycle_cpu"))
    args = ap.parse_args(argv)

    work = os.path.join(os.path.abspath(args.work), f"run-{os.getpid()}")
    cache = os.path.join(os.path.abspath(args.work), "inputs")
    tmp = os.path.join(work, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = bench.DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    ncpu = len(os.sched_getaffinity(0))
    wl = WORKLOADS["poll_append"](None, work, cache, args.seed, False)
    wl.make_inputs()
    spark = bench.session(work, ncpu, None)
    try:
        wl.spark = spark
        wl.setup()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        print(f"poll_append seed {args.seed}, local[{ncpu}], CPU seconds per operation")
        print(
            f"{'op':>3} {'wall':>6} " + " ".join(f"{c:>12}" for c in COLUMNS)
            + f" {'total':>7} {'jobs':>5} {'tasks':>6}"
        )
        sc = spark.sparkContext
        rows, counts = [], []
        for i in range(args.ops):
            jobs_before = spark_jobs(sc)
            before = snapshot(jvm_pid)
            t0 = time.perf_counter()
            wl.op()
            wall = time.perf_counter() - t0
            after = snapshot(jvm_pid)
            jobs, tasks = spark_counts(sc, spark_jobs(sc) - jobs_before)
            row = {c: after.get(c, 0.0) - before.get(c, 0.0) for c in COLUMNS}
            # the rest of the JVM: unnamed groups and threads that exited
            row["jvm.other"] = (after["jvm"] - before["jvm"]) - sum(
                row[c] for c in COLUMNS if c.startswith("jvm.") and c != "jvm.other"
            )
            rows.append((wall, row))
            counts.append((jobs, tasks))
            print(
                f"{i:>3} {wall:6.2f} "
                + " ".join(f"{row[c]:12.2f}" for c in COLUMNS)
                + f" {sum(row.values()):7.2f} {jobs:5d} {tasks:6d}"
            )
        n = len(rows)
        mean = {c: sum(r[c] for _w, r in rows) / n for c in COLUMNS}
        print(
            f"{'avg':>3} {sum(w for w, _r in rows) / n:6.2f} "
            + " ".join(f"{mean[c]:12.2f}" for c in COLUMNS)
            + f" {sum(mean.values()):7.2f}"
            + f" {sum(j for j, _t in counts) / n:5.1f}"
            + f" {sum(t for _j, t in counts) / n:6.1f}"
        )
    finally:
        bench.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
