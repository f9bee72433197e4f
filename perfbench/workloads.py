"""The benchmark's workloads. Each is a closed loop with one caller: the next
operation starts when the previous one has returned.

A workload makes its inputs (cached per seed), sets up, runs `op()` until
the measuring time is over and checks its outputs. `op()` returns the
sample of one operation: its wall time, the records it processed and the
failures it saw.
"""

from __future__ import annotations

import contextlib
import csv
import gzip
import hashlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import gen

from radar_output_restructure_spark.plans.cleaner import CleanerConfig
from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)
from radar_output_restructure_spark.streaming import service


def _source_digest() -> str:
    h = hashlib.md5()
    for path in (gen.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


GEN_DIGEST = _source_digest()


@dataclass
class Sample:
    wall: float
    records: int
    attempted: int = 1
    failed: int = 0
    parts: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0  # process-tree CPU seconds, set by the loop
    steal_frac: float = 0.0  # host steal share during the operation


class Workload:
    """Shared plumbing; subclasses define inputs, setup, op and check."""

    name = ""
    min_ops = 4
    warmup_ops = 0  # operations run and discarded at the end of set-up

    def __init__(self, spark, work: str, cache: str, seed: int, tiny: bool):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.tiny = tiny
        self.gen_s = 0.0
        self.gen_cached = False
        self.diag: dict = {}
        self.tracer = None  # set on a --trace 1 run; spans only while active

    def span(self, name: str):
        if self.tracer is not None and self.tracer.active:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    def make_inputs(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Program work before the timed loop (untimed inputs aside)."""

    def op(self) -> Sample:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """(attempted, failed) over the outputs the run produced."""
        raise NotImplementedError

    def _cached(self, key: str, build):
        """Inputs for `key`, built once; the key carries a digest of the
        generator and workload sources, so changed sizes never reuse old
        inputs."""
        key = f"{key}-{GEN_DIGEST}"
        t0 = time.perf_counter()
        meta, hit = gen.cached(self.cache, key, build)
        self.gen_s = time.perf_counter() - t0
        self.gen_cached = hit
        return meta, os.path.join(self.cache, key)


# ---------------------------------------------------------------------------
# output-tree verification
# ---------------------------------------------------------------------------


def read_times(path: str) -> list[float] | None:
    """value.time of every row of one CSV output file; None when the file
    has no such column. `float(token)` round-trips Java's Double.toString."""
    with open(path, "rb") as fh:
        data = fh.read()
    if path.endswith(".gz"):
        data = gzip.decompress(data)
    rows = csv.reader(io.StringIO(data.decode("utf-8")))
    header = next(rows, None)
    if header is None or "value.time" not in header:
        return None
    i = header.index("value.time")
    return sorted(float(r[i]) for r in rows)


def output_files(out_dir: str) -> list[str]:
    """Relative paths of the data files under an output root."""
    found = []
    for dirpath, dirnames, filenames in os.walk(out_dir):
        if os.path.abspath(dirpath) == os.path.abspath(out_dir):
            dirnames[:] = [d for d in dirnames if d != "offsets"]
        for fn in filenames:
            if fn.startswith("schema-") or fn.startswith("."):
                continue
            found.append(os.path.relpath(os.path.join(dirpath, fn), out_dir))
    return found


def compare_tree(out_dir: str, expected: dict[str, list[float]]) -> tuple[int, int, int]:
    """(files checked, files wrong, rows read): a file is wrong when it is
    missing, unexpected, or its multiset of value.time values differs."""
    found = set(output_files(out_dir))
    wrong = len(found - set(expected))
    rows = 0
    for rel, times in expected.items():
        if rel not in found:
            wrong += 1
            continue
        got = read_times(os.path.join(out_dir, rel))
        rows += len(got or [])
        if got != times:
            wrong += 1
    return len(expected) + len(found - set(expected)), wrong, rows


# ---------------------------------------------------------------------------
# polling service: append cycles plus the cleaner
# ---------------------------------------------------------------------------


class PollAppend(Workload):
    """The polling service over Avro input with keep-last dedup and gzip
    output. The ledger and output tree start from a seed restructure whose
    later files carry a second schema version (an attempt suffix). Each
    cycle lands one new file per topic-partition into existing hour bins,
    re-delivering part of the previous landing, and runs one service
    iteration; the cleaner (age 0) follows every cycle."""

    name = "poll_append"
    min_ops = 2  # the first runs the cleaner and the append path cold
    spec = gen.PollSpec(
        tree=gen.TreeSpec(
            topics=1, partitions=2, users=8, hours=12, rows_per_bin=10,
            rows_per_file=16, dup_frac=0.125, v2_from_file=25,
        ),
        cycles=40, rows_per_batch=40,
    )
    tiny_spec = gen.PollSpec(
        tree=gen.TreeSpec(
            topics=1, partitions=2, users=3, hours=2, rows_per_bin=6,
            rows_per_file=2, dup_frac=0.5, v2_from_file=4,
        ),
        cycles=8, rows_per_batch=6,
    )

    def make_inputs(self) -> None:
        spec = self.tiny_spec if self.tiny else self.spec

        def build(d):
            seed_tree, landings = gen.poll_inputs(d, self.seed, spec, ".csv.gz")

            def files(tree):
                return {
                    f"{t}|{p}": [os.path.relpath(f, tree.root) for f in fs]
                    for (t, p), fs in tree.files.items()
                }

            return {
                "seed": {
                    "expected": seed_tree.expected, "files": files(seed_tree),
                    "records": seed_tree.records,
                },
                "landings": [
                    {"expected": t.expected, "files": files(t), "records": t.records}
                    for t in landings
                ],
            }

        key = f"{self.name}-{'tiny' if self.tiny else 'full'}-{self.seed}"
        self.meta, self.gen_dir = self._cached(key, build)

    def setup(self) -> None:
        self.input_dir = os.path.join(self.work, "in")
        self.out_dir = os.path.join(self.work, "out")
        for d in (self.input_dir, self.out_dir):
            shutil.rmtree(d, ignore_errors=True)
        self._land(os.path.join(self.gen_dir, "seed"), self.meta["seed"]["files"])
        self.expected: dict[str, list[float]] = {
            k: list(v) for k, v in self.meta["seed"]["expected"].items()
        }
        self.config = RestructureConfig(
            input_dir=self.input_dir, output_dir=self.out_dir, num_threads=1,
            source_format="avro", compression="gzip",
            dedup=DedupConfig(enable=True),
        )
        # the program work of set-up: extract the seed tree once
        RestructurePlan(self.spark, self.config).run()
        # earlier cleaner passes would have removed all but the newest
        # source file of each partition; the ledger keeps every entry
        self.live: dict[str, list[str]] = {}
        for key, rels in self.meta["seed"]["files"].items():
            paths = [os.path.join(self.input_dir, r) for r in rels]
            for p in paths[:-1]:
                os.remove(p)
            self.live[key] = paths[-1:]
        self.records_in = self.meta["seed"]["records"]
        self.cycle = 0

    def _land(self, src_root: str, files: dict[str, list[str]]) -> None:
        for rels in files.values():
            for rel in rels:
                dst = os.path.join(self.input_dir, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(os.path.join(src_root, rel), dst)

    def op(self) -> Sample:
        if self.cycle >= len(self.meta["landings"]):
            raise IndexError("landing batches exhausted")
        land = self.meta["landings"][self.cycle]
        before = set(self.expected)
        self._land(os.path.join(self.gen_dir, f"cycle{self.cycle:03d}"), land["files"])
        self.cycle += 1
        self.records_in += land["records"]
        for k, v in land["expected"].items():
            self.expected.setdefault(k, []).extend(v)
        got: dict = {}

        def keep(_i, result):
            got.update(result)

        failed = 0
        t0 = time.perf_counter()
        try:
            service.run_service(
                self.spark, self.config, max_iterations=1, on_cycle=keep,
            )
        except Exception:
            failed += 1
        t1 = time.perf_counter()
        written = got.get("restructure", {})
        topics = {k.split("|")[0] for k in land["files"]}
        failed += sum(1 for t in topics if not written.get(t))
        for key, rels in land["files"].items():
            self.live[key] += [os.path.join(self.input_dir, r) for r in rels]
        cleaned: dict = {}
        try:
            service.run_service(
                self.spark, self.config, cleaner=CleanerConfig(age_days=0.0),
                worker_enable=False, max_iterations=1,
                on_cycle=lambda _i, r: cleaned.update(r.get("cleaner", {})),
            )
        except Exception:
            failed += 1
        t2 = time.perf_counter()
        deleted, revoked, bad = self._check_cleaner(cleaned)
        failed += bad
        files = [os.path.relpath(f, self.out_dir) for fs in written.values() for f in fs]
        return Sample(
            t2 - t0, land["records"], attempted=1 + len(topics) + 1,
            failed=failed,
            parts={
                "cycle_s": t1 - t0, "clean_s": t2 - t1,
                "files_written": len(files),
                "appended": sum(1 for f in files if f in before),
                "bytes_written": sum(
                    os.path.getsize(os.path.join(self.out_dir, f)) for f in files
                ),
                "deleted": deleted, "revoked": revoked,
            },
        )

    def _check_cleaner(self, cleaned: dict) -> tuple[int, int, int]:
        """(deleted, revoked, failed): the deleted set must be every
        committed, still-present source file except the newest of each
        partition, and nothing may be revoked."""
        expect = set()
        for key, paths in self.live.items():
            expect.update(paths[:-1])
            self.live[key] = paths[-1:]
        deleted = set()
        revoked = 0
        for res in cleaned.values():
            deleted.update(res.get("deleted", []))
            revoked += len(res.get("revoked", []))
        return len(deleted), revoked, int(deleted != expect or revoked != 0)

    def check(self) -> tuple[int, int]:
        expected = {k: sorted(v) for k, v in self.expected.items()}
        checked, wrong, rows = compare_tree(self.out_dir, expected)
        self.diag["rows_out"] = rows
        self.dropped_frac = (self.records_in - rows) / self.records_in
        return checked, wrong


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------

# query -> the tables it reads; both live in operators/ (similarity, text)
REGISTRY_QUERIES = {
    "embedding_dup_clusters": ("embeddings",),
    "bpe_merges_docs": ("documents",),
}


class RegistryMix(Workload):
    """One pass over heavy registry queries with the `noop` sink; the seed
    rotates the query order. The tables come from a fixed generator seed,
    so every run reads the same data."""

    name = "registry_mix"
    min_ops = 3
    data_seed = 42

    def make_inputs(self) -> None:
        import __spark_entry__ as entry

        scale = 0.02 if self.tiny else 0.5
        sql = {q: entry.oracle_sql()[q] for q in REGISTRY_QUERIES}

        def build(d):
            rows = gen.registry_tables(d, self.data_seed, scale)
            for q in REGISTRY_QUERIES:
                oracle_answer(d, q, sql[q]).to_pickle(os.path.join(d, f"oracle-{q}.pkl"))
            return {"rows": rows}

        # the oracle answers are part of the cached inputs, so the key
        # carries a digest of the oracles' SQL
        digest = hashlib.md5(repr(sorted(sql.items())).encode()).hexdigest()[:8]
        key = f"{self.name}-{'tiny' if self.tiny else 'full'}-{self.data_seed}-{digest}"
        meta, self.sf_dir = self._cached(key, build)
        rows = meta["rows"]
        k = self.seed % len(REGISTRY_QUERIES)
        names = list(REGISTRY_QUERIES)
        self.order = names[k:] + names[:k]
        self.records = sum(rows[t] for q in self.order for t in REGISTRY_QUERIES[q])

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        # the cold pass collects every result; check() compares them with
        # the oracles' answers
        self.results = {}
        for q in self.order:
            t0 = time.perf_counter()
            self.results[q] = self.queries[q](self.spark, self.sf_dir).toPandas()
            self.diag[f"cold_{q}_s"] = time.perf_counter() - t0

    def op(self) -> Sample:
        t0 = time.perf_counter()
        failed = 0
        for q in self.order:
            try:
                self.run_query(q)
            except Exception:
                failed += 1
        return Sample(
            time.perf_counter() - t0, self.records,
            attempted=len(self.order), failed=failed,
        )

    def run_query(self, q: str) -> None:
        with self.span(f"registry.{q}.build"):
            df = self.queries[q](self.spark, self.sf_dir)
        with self.span(f"registry.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> tuple[int, int]:
        import pandas as pd

        bad = 0
        for q, got in self.results.items():
            want = pd.read_pickle(os.path.join(self.sf_dir, f"oracle-{q}.pkl"))
            bad += not same_result(got, want)
        self.diag["result_rows"] = {q: len(r) for q, r in self.results.items()}
        return len(self.results), bad


def oracle_answer(sf_dir: str, q: str, sql: str):
    """The DuckDB oracle's answer to query `q` over the tables in `sf_dir`."""
    import duckdb

    con = duckdb.connect()
    for t in REGISTRY_QUERIES[q]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    want = con.execute(sql).df()
    con.close()
    return want


def same_result(got, want) -> bool:
    """Order-insensitive equality of two result frames: same columns, same
    row count, equal values (floats to 1e-9 relative)."""
    import numpy as np

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1).copy()
        for c in df.columns:
            col = df[c]
            if str(col.dtype).startswith("datetime64"):
                df[c] = col.astype("datetime64[us]").astype("int64")
            elif col.dtype == object:
                df[c] = col.map(repr_value)
            elif col.dtype.kind in "iub":
                df[c] = col.astype("int64")
            elif col.dtype.kind == "f":
                df[c] = col.astype("float64")
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)

    a, b = norm(got), norm(want)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            if not (np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))).all():
                return False
        elif not (x == y).all():
            return False
    return True


def repr_value(v) -> str:
    """Stable text for object cells (lists and arrays compare by content)."""
    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(repr_value(x) for x in v) + "]"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


WORKLOADS = {
    w.name: w for w in (PollAppend, RegistryMix)
}
