"""Polling service mode (SURVEY ST1, reference Application.kt:143-166,
worker/Job.kt:20-64).

The reference's `--service` flag re-runs restructure (and the cleaner, at its
own longer interval) on a fixed schedule, conflated (no overlapping runs) and
serialized through one mutex. A plain driver loop reproduces that exactly:
each iteration is a batch job whose incremental work discovery is the
manifest prune (new/modified files only), so an idle tick costs one listing.

For push-based latency instead of polling, use
`streaming_restructure` (Structured Streaming file source); this loop is the
operational equivalent of the reference's deployment mode.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from radar_output_restructure_spark.plans.cleaner import CleanerConfig, SourceDataCleaner
from radar_output_restructure_spark.plans.restructure import (
    RestructureConfig,
    RestructurePlan,
)


def run_service(
    spark: SparkSession,
    config: RestructureConfig | list[RestructureConfig],
    interval_s: float = 300.0,
    cleaner_interval_s: float = 1260.0,
    cleaner: CleanerConfig | None = None,
    max_iterations: int | None = None,
    on_cycle: Callable[[int, dict], None] | None = None,
    sleep: Callable[[float], None] = time.sleep,
    worker_enable: bool = True,
) -> int:
    """Run restructure every `interval_s` and the cleaner every
    `cleaner_interval_s` (reference defaults 300 s / 1260 s), serialized
    within the loop like the reference's serviceMutex. Returns iterations
    run. `max_iterations`/`on_cycle`/`sleep` exist for tests and embedding.

    `config` may be a LIST (one per paths.inputs entry): every cycle covers
    every input, like the reference service — a loop-per-input would run
    the first input forever and never reach the rest. `worker_enable=False`
    gives the cleaner-only deployment (worker.enable: false): the cleaner
    still honours its own interval, restructure never runs. The cleaner
    runs on the FIRST cycle and then per interval (a `0.0` start against
    time.monotonic() would make the first run depend on host uptime).
    """
    configs = config if isinstance(config, list) else [config]
    plans = (
        [RestructurePlan(spark, c) for c in configs] if worker_enable else []
    )
    # with the worker enabled each cleaner shares its config's plan, so its
    # deletes update the worker's storage index in place; a cleaner-only
    # service builds its own
    cleaner_jobs = (
        [
            SourceDataCleaner(spark, c, cleaner, plan=plans[i] if plans else None)
            for i, c in enumerate(configs)
        ]
        if cleaner
        else []
    )
    last_clean: float | None = None
    i = 0
    while max_iterations is None or i < max_iterations:
        started = time.monotonic()
        restructured: dict[str, list[str]] = {}
        for plan in plans:
            for topic, files in plan.run().items():
                restructured.setdefault(topic, []).extend(files)
        result: dict = {"restructure": restructured}
        if cleaner_jobs and (
            last_clean is None
            or time.monotonic() - last_clean >= cleaner_interval_s
        ):
            cleaned: dict[str, dict] = {}
            for job in cleaner_jobs:
                cleaned.update(job.run())
            result["cleaner"] = cleaned
            last_clean = time.monotonic()
        i += 1
        if on_cycle:
            on_cycle(i, result)
        if max_iterations is not None and i >= max_iterations:
            break
        # conflated schedule: next run starts interval_s after the previous
        # START, but never overlaps (Job.kt:47-63)
        sleep(max(0.0, interval_s - (time.monotonic() - started)))
    return i
