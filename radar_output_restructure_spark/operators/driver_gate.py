"""The one "collect to the driver if it fits, else distribute" decision.

Every operator with a driver path and a distributed fallback (Lloyd
training, BPE training, near-dup union-find) asks `collect_if_fits` with
its own module-level cap and takes the distributed loop on `None`. Both
paths compute bit-identical results, and tests prove it by forcing this
one function to decline (tests/test_dual_paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def collect_if_fits(df: DataFrame, cap: int) -> list | None:
    """All rows of `df` as one driver-side list, or None when `df` holds
    more than `cap` rows.

    A `limit(cap + 1).count()` pre-count decides first: column pruning
    reduces it to a row count, so an over-cap frame never ships its
    payload columns to the driver. At or under the cap the limited
    collect returns the WHOLE frame, so the driver path sees exactly the
    data the distributed path would; the second length check covers a
    frame that is not deterministic between the two jobs.
    """
    if df.limit(cap + 1).count() > cap:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
