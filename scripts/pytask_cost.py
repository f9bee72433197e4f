#!/usr/bin/env python3
"""The fixed cost of one Spark Python task in a reused worker.

    python3 scripts/pytask_cost.py [--tasks 8] [--json]

Runs `--tasks` one-task jobs, one after another, on a `local[1]` session:
each is a trivial `mapInPandas` over one row whose function references a
package function, so the worker imports the package as every engine UDF
does. On entry, each task reports its worker's pid, the worker process's
CPU seconds so far and how many times `zipimport._read_directory` (one
re-parse of a zip archive's central directory) has run in that worker.
Printed per task, from the second on: the CPU seconds and directory reads
since the previous task's entry, i.e. one whole task in a reused worker,
including pyspark's set-up before the function runs. Seconds are raw CPU
seconds on the host the script runs on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from radar_output_restructure_spark.sinks.writers import decompress  # noqa: E402


def _zip_reads() -> int:
    """Directory reads in this process since the counter was installed (on
    the first call)."""
    import zipimport

    read = zipimport._read_directory
    if hasattr(read, "calls"):
        return read.calls

    def counted(archive):
        counted.calls += 1
        return read(archive)

    counted.calls = 0
    zipimport._read_directory = counted
    return 0


def _probe(batches):
    import pandas as pd

    reads = _zip_reads()
    t = os.times()
    for pdf in batches:
        decompress(b"", None)
    yield pd.DataFrame(
        {"pid": [os.getpid()], "cpu_s": [t.user + t.system], "reads": [reads]}
    )


def measure(spark, tasks: int) -> list[dict]:
    """One dict per task after the first: worker pid, CPU seconds and zip
    directory reads since the previous task."""
    snaps = [
        spark.range(1, numPartitions=1)
        .mapInPandas(_probe, "pid long, cpu_s double, reads long")
        .collect()[0]
        for _ in range(tasks)
    ]
    return [
        {
            "task": i,
            "pid": cur.pid,
            "same_worker": cur.pid == prev.pid,
            "cpu_s": round(cur.cpu_s - prev.cpu_s, 3),
            "zip_reads": cur.reads - prev.reads,
        }
        for i, (prev, cur) in enumerate(zip(snaps, snaps[1:]), start=1)
    ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=8)
    ap.add_argument("--json", action="store_true", help="print the rows as JSON")
    args = ap.parse_args(argv)

    from radar_output_restructure_spark import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        app_name="pytask-cost", master="local[1]", shuffle_partitions=1,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        rows = measure(spark, max(args.tasks, 2))
    finally:
        spark.stop()
    if args.json:
        print(json.dumps(rows))
        return 0
    print(f"{'task':>4} {'pid':>8} {'worker_cpu_s':>12} {'zip_reads':>9}")
    for r in rows:
        print(f"{r['task']:>4} {r['pid']:>8} {r['cpu_s']:12.3f} {r['zip_reads']:>9}")
    # the first task set the worker up; the second is the first
    # invalidation after the package was imported
    warm = [r for r in rows[1:] if r["same_worker"]]
    if warm:
        cpu = sorted(r["cpu_s"] for r in warm)
        print(
            f"warm tasks {len(warm)}: worker CPU {cpu[0]:.3f}-{cpu[-1]:.3f} s, "
            f"median {cpu[len(cpu) // 2]:.3f} s, zip reads per task "
            f"{sum(r['zip_reads'] for r in warm) / len(warm):.1f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
