"""Registry-coverage invariant (r4 verdict item 8): the committed
ORACLES_LOCAL.json must certify EVERY registered query green. The driver's
CORRECTNESS gate truncates at ~50 entries, so this locally-regenerated
artifact is the only per-round record covering the whole registry; a query
added (or broken) without re-running

    python scripts/check_oracles.py --json ORACLES_LOCAL.json

fails here, in-diff, instead of silently aging out of certification."""

from __future__ import annotations

import json
import math
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(REPO, "ORACLES_LOCAL.json")


def test_oracles_artifact_covers_whole_registry():
    import __spark_entry__ as entry

    registry = set(entry.queries())
    assert os.path.exists(ARTIFACT), (
        "ORACLES_LOCAL.json missing — regenerate with "
        "`python scripts/check_oracles.py --json ORACLES_LOCAL.json`"
    )
    with open(ARTIFACT) as fh:
        artifact = json.load(fh)
    results = artifact["results"]
    uncovered = registry - set(results)
    assert not uncovered, f"queries never certified locally: {sorted(uncovered)}"
    stale = set(results) - registry
    assert not stale, f"artifact references unregistered queries: {sorted(stale)}"
    not_green = {n: v for n, v in results.items() if v == "fail"}
    assert not not_green, f"certified-failing queries committed: {not_green}"


def test_cert_age_artifact_and_rotation_invariant():
    """The rotation promise holds on the ledger derived from the
    CORRECTNESS_r*.json artifacts: every registry query is certified green
    within the last TWO rounds or queued in the first 50 of the current
    gate head, and replaying the stalest-first rotation certifies every
    query within ceil(n / 50) rounds and never lets one grow older."""
    import __spark_entry__ as entry
    from scripts.cert_age import GATE_SLOTS, build, stalest_first

    ledger = build()
    latest = ledger["latest_round"]
    head_50 = set(list(entry.queries())[:GATE_SLOTS])
    debtors = {
        name
        for name, row in ledger["queries"].items()
        if (
            row["last_driver_green"] is None
            or latest - row["last_driver_green"] > 2
        )
        and name not in head_50
    }
    assert not debtors, (
        f"queries neither driver-green within 2 rounds nor queued in the "
        f"gate head's first 50: {sorted(debtors)}"
    )

    # Replay the rotation: each future round certifies the gate head that
    # `stalest_first` picks from the ledger as it then stands.
    bound = math.ceil(len(ledger["queries"]) / GATE_SLOTS)
    for rnd in range(latest + 1, latest + 1 + 2 * bound):
        for name in stalest_first(ledger)[:GATE_SLOTS]:
            ledger["queries"][name]["last_driver_green"] = rnd
        too_old = {
            name: row["last_driver_green"]
            for name, row in ledger["queries"].items()
            if row["last_driver_green"] is None
            or rnd - row["last_driver_green"] > bound
            or (rnd >= latest + bound and row["last_driver_green"] <= latest)
        }
        assert not too_old, (
            f"round {rnd}: queries left uncertified beyond {bound} rounds: "
            f"{too_old}"
        )


def test_oracle_sql_and_queries_keys_match():
    """Every query has an oracle (or is an explicitly known rows-only op) and
    no oracle is orphaned — the driver's compare depends on both sides."""
    import __spark_entry__ as entry

    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert not o - q, f"oracles without queries: {sorted(o - q)}"
    # rows-only entries are allowed by the driver but each one weakens the
    # gate; keep the set explicit so additions are a conscious choice
    known_rows_only: set[str] = set()
    assert q - o == known_rows_only, (
        f"queries without oracles changed: {sorted(q - o)}"
    )
