#!/usr/bin/env python
"""Dump explain("formatted") for registry queries to a directory.

Plan-only capture (no noop execution) so before/after plan diffs can be
taken independently of benchmarking. Note: queries whose build phase is
eager (k-means training, persisted-index builds) still run those jobs.

A query that calls `localCheckpoint` also gets DIR/<query>_checkpoints.txt:
the formatted plan of every frame it checkpoints, in call order (the query
plan shows a checkpoint only as `Scan ExistingRDD`).

Each query prints one line of counts, so plan tables come from this script
rather than from hand `grep`s over the files:

    <query>: <build s> exchanges=N broadcasts=N scans=N python_maps=N
        python_groups=N checkpoints=N checkpoint_exchanges=N jobs=N

Node counts are `explain_audit.audit` over the formatted query plan
(`python_maps` counts MapInPandas and MapInArrow nodes, `python_groups`
FlatMapGroupsInPandas and FlatMapGroupsInArrow nodes)
(`checkpoint_exchanges` over the checkpointed frames' plans). `jobs` is the
number of Spark jobs the build itself launched, read from the status
tracker. A plan dump is not free of execution: eager builds (k-means
training, persisted-index builds, driver-gated collects) run jobs, and so
does a `localCheckpoint(eager=False)` whose input holds an Exchange, whose
shuffle stages run while the query is being built. A non-zero `jobs` shows
that work, which the build/exec split of `profile_queries.py` books as
build time.

Usage: python scripts/dump_plans.py --out DIR [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from explain_audit import audit

    from radar_output_restructure_spark import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    registry = entry_mod.queries()
    names = args.queries or list(registry)
    bad = [n for n in names if n not in registry]
    if bad:
        sys.exit(f"unknown queries: {bad}")
    os.makedirs(args.out, exist_ok=True)

    def explain(df) -> str:
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    from pyspark.sql.classic.dataframe import DataFrame

    checkpoints: list[str] = []
    local_checkpoint = DataFrame.localCheckpoint

    def capture(self, eager=True, *rest, **kwargs):
        checkpoints.append(
            f"=== localCheckpoint #{len(checkpoints) + 1} "
            f"(eager={eager}) ===\n{explain(self)}\n"
        )
        return local_checkpoint(self, eager, *rest, **kwargs)

    DataFrame.localCheckpoint = capture
    for name in names:
        t0 = time.perf_counter()
        checkpoints.clear()
        jobs_before = set(sc.statusTracker().getJobIdsForGroup(None))
        df = registry[name](spark, args.sf)
        jobs = set(sc.statusTracker().getJobIdsForGroup(None)) - jobs_before
        plan = explain(df)
        with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        if checkpoints:
            path = os.path.join(args.out, f"{name}_checkpoints.txt")
            with open(path, "w") as fh:
                fh.write("".join(checkpoints))
        c = audit(plan)
        ckpt_exchanges = sum(audit(p).get("shuffle", 0) for p in checkpoints)
        print(
            f"{name}: {time.perf_counter() - t0:.2f}s"
            f" exchanges={c.get('shuffle', 0)} broadcasts={c.get('bcast', 0)}"
            f" scans={c.get('scan', 0)} python_maps={c.get('py_map', 0)}"
            f" python_groups={c.get('py_groups', 0)}"
            f" checkpoints={len(checkpoints)}"
            f" checkpoint_exchanges={ckpt_exchanges} jobs={len(jobs)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
