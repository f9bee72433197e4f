#!/usr/bin/env python
"""Physical-plan hygiene audit: for every registry query, count the physical
operators that matter at 100 TB (shuffles, joins by strategy, Python-worker
stages, scans with pushed filters) and flag smells (sort-merge join where a
side is tiny, Python in a non-sink stage, cartesian products).

Usage: python scripts/explain_audit.py [--sf DIR] [--md PLANS.md] [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTERESTING = {
    "Exchange": "shuffle",
    "BroadcastExchange": "bcast",
    "BroadcastHashJoin": "bhj",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
    "HashAggregate": "hashagg",
    "SortAggregate": "sortagg",
    "ObjectHashAggregate": "objagg",
    "Window": "window",
    "WindowGroupLimit": "wgl",
    "Sort": "sort",
    "Generate": "explode",
    "BatchEvalPython": "py_row",
    "ArrowEvalPython": "py_arrow",
    "FlatMapGroupsInPandas": "py_groups",
    "FlatMapGroupsInArrow": "py_groups",
    "MapInPandas": "py_map",
    "MapInArrow": "py_map",
    "TakeOrderedAndProject": "takeordered",
    "GlobalLimit": "limit",
    "CollectLimit": "limit",
    "Scan": "scan",
}


def audit(plan_text: str) -> dict[str, int]:
    ops = re.findall(r"^\s*\(\d+\) (\w+)", plan_text, re.M)
    c: Counter[str] = Counter()
    for op in ops:
        for key, short in INTERESTING.items():
            if op.startswith(key):
                c[short] += 1
                break
    c["pushed_filters"] = len(re.findall(r"PushedFilters: \[[^\]]+\]", plan_text))
    # Unpartitioned WindowExec: its Arguments line has only [exprs], [order]
    # (a partitioned one has a third [partitionSpec] list between them).
    # (exact-node match: WindowGroupLimit argument lists have another shape)
    # Arguments render as [exprs], [partitionSpec], [orderSpec] with empty
    # specs omitted: 3 lists = partitioned; 2 lists = partitioned-unordered
    # unless the second list is an order spec (ASC/DESC); 1 list = global.
    for m in re.finditer(r"\(\d+\) Window\n(?:[^\n(]+\n)*?Arguments: (.+)", plan_text):
        parts = m.group(1).split("], [")
        if len(parts) == 1 or (
            len(parts) == 2 and re.search(r" (ASC|DESC)\b", parts[-1])
        ):
            c["window_unpart"] += 1
    return dict(c)


def smells(stats: dict[str, int]) -> list[str]:
    out = []
    if stats.get("cartesian"):
        out.append("cartesian")
    if stats.get("py_row"):
        out.append("row-at-a-time python")
    if stats.get("smj", 0) > 0 and stats.get("bhj", 0) == 0:
        out.append("smj-only (check broadcastability)")
    if (
        stats.get("window_unpart", 0)
        and not stats.get("takeordered")
        and not stats.get("limit")
    ):
        # a global-rank window with no TakeOrdered/limit bounding its input
        # sorts the whole frame on ONE partition (the r4 corpus_vocabulary
        # scale-killer)
        out.append("unbounded single-partition window")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--md", default=None, help="write a markdown table to this file")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from radar_output_restructure_spark import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()
    names = args.queries or sorted(registry)

    rows = []
    for name in names:
        df = registry[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        stats = audit(buf.getvalue())
        rows.append((name, stats, smells(stats)))
        print(f"{name:32s} {stats} {'  !! ' + ', '.join(smells(stats)) if smells(stats) else ''}")

    if args.md:
        keys = ["scan", "pushed_filters", "shuffle", "bhj", "smj", "hashagg",
                "window", "explode", "py_arrow", "py_groups", "py_map", "py_row"]
        with open(args.md, "w") as fh:
            fh.write("# Physical-plan audit (generated by scripts/explain_audit.py)\n\n")
            fh.write("Operator counts per registry query at sf0.01. `py_*` = Python worker\n")
            fh.write("stages (Arrow-batched except `py_row`); the only expected `py_groups`\n")
            fh.write("is the exact-name file sink and stateful sessions.\n\n")
            fh.write("| query | " + " | ".join(keys) + " | smells |\n")
            fh.write("|" + "---|" * (len(keys) + 2) + "\n")
            for name, stats, sm in rows:
                cells = " | ".join(str(stats.get(k, 0)) for k in keys)
                fh.write(f"| {name} | {cells} | {', '.join(sm) or '—'} |\n")
        print(f"\nwrote {args.md}")


if __name__ == "__main__":
    main()
