#!/usr/bin/env python
"""Certification-age ledger: maps every registry query to the last round
the external correctness gate certified it hash-green, read from the
committed CORRECTNESS_r*.json artifacts.

    {
      "latest_round": 6,
      "queries": {
        "tpch_q1_pricing": {"last_driver_green": 5},
        "zorder_events":   {"last_driver_green": null},   # never certified
        ...
      }
    }

The gate records only the first `GATE_SLOTS` registry entries, so
`__spark_entry__` orders the registry stalest-first from this ledger
(`stalest_first`): the rotation advances by itself whenever a new
CORRECTNESS_r*.json round lands. tests/test_registry_coverage.py derives the ledger and
checks the rotation invariant on it.

Usage: python scripts/cert_age.py          # prints ages and the gate head
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Registry entries the correctness gate records per round.
GATE_SLOTS = 50


#: Driver gate rows that certify a query. "rows-only" driver checks (no
#: oracle) are weaker but still driver-fresh; hash mismatches are not.
def _is_green(row: dict) -> bool:
    if row.get("err"):
        return False
    if "hash_match" in row:
        return bool(
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
    return bool(row.get("rows_match"))


def build(names=None) -> dict:
    """Build the ledger for `names` (default: the whole registry) from the
    CORRECTNESS_r*.json artifacts on disk."""
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            rounds[int(m.group(1))] = json.load(fh)
    latest = max(rounds) if rounds else 0

    if names is None:
        import __spark_entry__ as entry

        names = entry.queries()
    ledger: dict[str, dict] = {}
    for name in names:
        last = None
        for rnd in sorted(rounds):
            row = rounds[rnd].get(name)
            if row is not None and _is_green(row):
                last = rnd
        ledger[name] = {"last_driver_green": last}
    return {"latest_round": latest, "queries": ledger}


def stalest_first(ledger: dict) -> list[str]:
    """Query names ordered stalest-first: never-certified queries, then by
    last green round ascending, ties broken by name."""

    def key(name):
        last = ledger["queries"][name]["last_driver_green"]
        return (-1 if last is None else last, name)

    return sorted(ledger["queries"], key=key)


def main() -> int:
    artifact = build()
    ages: dict[str | int, int] = {}
    for name, row in artifact["queries"].items():
        last = row["last_driver_green"]
        key = "never" if last is None else artifact["latest_round"] - last
        ages[key] = ages.get(key, 0) + 1
    print(f"latest driver round: {artifact['latest_round']}")
    for age in sorted(ages, key=str):
        print(f"  age {age}: {ages[age]} queries")
    print(f"next gate head ({GATE_SLOTS}):")
    for name in stalest_first(artifact)[:GATE_SLOTS]:
        print(f"  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
