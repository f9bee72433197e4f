"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and a size: the same seed
and size give byte-identical inputs. Topic trees are Avro containers in
the Kafka-sink layout `<in>/<topic>/partition=<p>/<topic>+<p>+<from>+<to>.avro`,
with an ObservationKey key and a RADAR-shaped value: `time`/`timeReceived`
doubles (epoch seconds), a nested record, a fixed-length array and an enum
string.

Alongside the files each generator returns what a correct restructure must
produce: per output file (relative to the output root), the multiset of
`value.time` values. Registry tables mirror the columns of the document
and embedding fixture tables the registry queries read.
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from radar_output_restructure_spark.sources import avro_io

KEY_SCHEMA = {
    "type": "record",
    "name": "ObservationKey",
    "namespace": "org.radarcns.kafka",
    "fields": [
        {"name": "projectId", "type": ["null", "string"], "default": None},
        {"name": "userId", "type": "string"},
        {"name": "sourceId", "type": "string"},
    ],
}

STATUS = ["OK", "LOW", "HIGH", "UNKNOWN"]


def value_schema(version: int) -> dict:
    """The value record; version 2 appends a nullable field, which gives
    the files a new schema fingerprint and so a new attempt suffix."""
    fields = [
        {"name": "time", "type": "double"},
        {"name": "timeReceived", "type": "double"},
        {
            "name": "position",
            "type": {
                "type": "record",
                "name": "Position",
                "fields": [
                    {"name": "x", "type": "float"},
                    {"name": "y", "type": "float"},
                ],
            },
        },
        {"name": "samples", "type": {"type": "array", "items": "float"}},
        {
            "name": "status",
            "type": {"type": "enum", "name": "Status", "symbols": STATUS},
        },
    ]
    if version >= 2:
        fields.append({"name": "battery", "type": ["null", "float"], "default": None})
    return {
        "type": "record",
        "name": "PhoneSample",
        "namespace": "org.radarcns.passive.bench",
        "fields": fields,
    }


def record_schema(version: int) -> dict:
    return {
        "type": "record",
        "name": "KafkaRecord",
        "namespace": "org.radarcns.bench",
        "fields": [
            {"name": "key", "type": KEY_SCHEMA},
            {"name": "value", "type": value_schema(version)},
        ],
    }


# 2020-01-01T00:00Z plus a seed-chosen number of days, so seeds also differ
# in their time-bin names
_EPOCH_2020 = 1_577_836_800


@dataclass
class TreeSpec:
    topics: int
    partitions: int
    users: int
    hours: int
    rows_per_bin: int
    rows_per_file: int
    dup_frac: float = 0.0  # share of each file re-delivered from the previous
    v2_from_file: int | None = None  # per-partition file index where v2 starts


@dataclass
class Tree:
    """A generated topic tree and what restructuring it must produce."""

    root: str
    records: int  # source records, re-deliveries included
    # output path relative to the output root -> sorted value.time values
    expected: dict[str, list[float]] = field(default_factory=dict)
    # (topic, partition) -> source file paths in offset order
    files: dict[tuple[str, int], list[str]] = field(default_factory=dict)


def _bin_name(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y%m%d_%H00")


def _columns(times: np.ndarray) -> dict:
    """Every other value field is a function of `time`, so a re-delivered
    copy of a record is identical to the original."""
    ms = np.round(times * 1000).astype(np.int64)
    return {
        "timeReceived": times + (ms % 997 + 5) / 1000.0,
        "x": np.sin(ms % 10_007).astype(np.float32),
        "y": np.cos(ms % 10_009).astype(np.float32),
        "samples": np.stack(
            [np.sin(ms % p).astype(np.float32) for p in (101, 103, 107)], axis=1
        ),
        "status": ms % len(STATUS),
        "battery": ((ms % 1000) / 1000.0).astype(np.float32),
    }


class _Stream:
    """Records of one (topic, partition), in arrival order."""

    def __init__(self):
        self.users: list[int] = []
        self.times: list[np.ndarray] = []

    def add(self, user: int, times: np.ndarray) -> None:
        self.users.append(user)
        self.times.append(times)

    def arrays(self) -> tuple[np.ndarray, np.ndarray]:
        users = np.concatenate(
            [np.full(len(t), u) for u, t in zip(self.users, self.times)]
        )
        times = np.concatenate(self.times)
        order = np.lexsort((users, times))
        return users[order], times[order]


def _write_avro(path: str, version: int, users, times, cols) -> None:
    """One Avro container with `sources.avro_io.write_container` (null
    codec), as the Kafka connector writes them."""
    recs = []
    for j, u in enumerate(users):
        value = {
            "time": float(times[j]),
            "timeReceived": float(cols["timeReceived"][j]),
            "position": {"x": float(cols["x"][j]), "y": float(cols["y"][j])},
            "samples": [float(v) for v in cols["samples"][j]],
            "status": STATUS[int(cols["status"][j])],
        }
        if version >= 2:
            value["battery"] = float(cols["battery"][j])
        recs.append(
            {
                "key": {
                    "projectId": f"radar-bench-{u % 3}",
                    "userId": f"user-{u:04d}",
                    "sourceId": f"src-{u:04d}",
                },
                "value": value,
            }
        )
    avro_io.write_container(path, record_schema(version), recs)


def _emit_stream(
    tree: Tree,
    spec: TreeSpec,
    topic: str,
    part: int,
    users: np.ndarray,
    times: np.ndarray,
    first_offset: int = 0,
    suffix: str = "",
    redeliver: tuple[np.ndarray, np.ndarray] | None = None,
) -> int:
    """Chunk one partition stream into source files; returns the next
    offset. A re-delivered record is a copy of one from the tail of the
    previous file of the same schema version, as a sink that restarted
    mid-batch would write it; `redeliver` (users, times) puts such copies
    from an earlier stream at the head of the first file."""
    if redeliver is not None:
        users = np.concatenate([redeliver[0], users])
        times = np.concatenate([redeliver[1], times])
    n_head = 0 if redeliver is None else len(redeliver[0])
    cols = _columns(times)
    pdir = os.path.join(tree.root, topic, f"partition={part}")
    os.makedirs(pdir, exist_ok=True)
    offset = first_offset
    n = len(times)
    n_dup = int(round(spec.dup_frac * spec.rows_per_file))
    prev: slice | None = None
    for idx, start in enumerate(range(0, n, spec.rows_per_file)):
        sl = slice(start, min(n, start + spec.rows_per_file))
        version = 2 if spec.v2_from_file is not None and idx >= spec.v2_from_file else 1
        rows = np.arange(sl.start, sl.stop)
        if n_dup and prev is not None and idx != spec.v2_from_file:
            redelivered = np.arange(max(prev.start, prev.stop - n_dup), prev.stop)
            rows = np.concatenate([redelivered, rows])
        f_users, f_times = users[rows], times[rows]
        f_cols = {k: v[rows] for k, v in cols.items()}
        count = len(rows)
        name = f"{topic}+{part}+{offset}+{offset + count - 1}.avro"
        path = os.path.join(pdir, name)
        _write_avro(path, version, f_users, f_times, f_cols)
        tree.files.setdefault((topic, part), []).append(path)
        tree.records += count
        attempt = "_1" if version == 2 else ""
        fresh = slice(max(sl.start, n_head), sl.stop)
        for u, t in zip(users[fresh], times[fresh]):
            rel = (
                f"radar-bench-{u % 3}/user-{u:04d}/{topic}/"
                f"{_bin_name(t)}{attempt}{suffix}"
            )
            tree.expected.setdefault(rel, []).append(float(t))
        offset += count
        prev = sl
    return offset


def _bin_times(rng, start_s: int, hour: int, n: int) -> np.ndarray:
    """n distinct millisecond-resolution times inside one hour."""
    ms = np.sort(rng.choice(3_600_000, size=n, replace=False))
    return (start_s * 1000 + hour * 3_600_000 + ms) / 1000.0


def _start_s(seed: int) -> int:
    return _EPOCH_2020 + (seed % 300) * 86_400


def topic_tree(root: str, seed: int, spec: TreeSpec, suffix: str) -> Tree:
    """Dense topic tree: every (topic, user, hour) bin gets `rows_per_bin`
    records. `suffix` is the output extension (`.csv`, `.csv.gz`)."""
    rng = np.random.default_rng(seed % 2**32)
    tree = Tree(root=root, records=0)
    start = _start_s(seed)
    for t in range(spec.topics):
        topic = f"android_phone_sensor{t}"
        streams = defaultdict(_Stream)
        for u in range(spec.users):
            for h in range(spec.hours):
                streams[u % spec.partitions].add(
                    u, _bin_times(rng, start, h, spec.rows_per_bin)
                )
        for part in range(spec.partitions):
            users, times = streams[part].arrays()
            _emit_stream(tree, spec, topic, part, users, times, suffix=suffix)
    for times in tree.expected.values():
        times.sort()
    return tree


@dataclass
class PollSpec:
    tree: TreeSpec
    cycles: int  # batches generated ahead; a run lands at most this many
    rows_per_batch: int  # per topic-partition and cycle


def poll_inputs(
    root: str, seed: int, spec: PollSpec, suffix: str
) -> tuple[Tree, list[Tree]]:
    """The seed tree plus one landing tree per cycle. Each landing holds one
    file per topic-partition whose records fall into hours the seed tree
    already covers, so restructuring it appends to existing output files.
    A share `dup_frac` of each landing file re-delivers the tail of the
    previous landing of its partition."""
    seed_tree = topic_tree(os.path.join(root, "seed"), seed, spec.tree, suffix)
    rng = np.random.default_rng((seed + 1) % 2**32)
    start = _start_s(seed)
    ts = spec.tree
    n_dup = int(round(ts.dup_frac * spec.rows_per_batch))
    one = replace(
        ts, rows_per_file=spec.rows_per_batch + n_dup, dup_frac=0.0, v2_from_file=None
    )
    next_offset = {
        key: int(os.path.basename(paths[-1]).rsplit("+", 1)[1].split(".")[0]) + 1
        for key, paths in seed_tree.files.items()
    }
    prev: dict[tuple[str, int], tuple[np.ndarray, np.ndarray]] = {}
    landings = []
    for c in range(spec.cycles):
        land = Tree(root=os.path.join(root, f"cycle{c:03d}"), records=0)
        for (topic, part), off in sorted(next_offset.items()):
            part_users = np.arange(part, ts.users, ts.partitions)
            users = rng.choice(part_users, size=spec.rows_per_batch)
            hours = rng.integers(0, ts.hours, size=spec.rows_per_batch)
            # a fraction of a millisecond unique to the cycle keeps every
            # landed time distinct from the seed's and other cycles' times
            ms = rng.choice(3_600_000, size=spec.rows_per_batch, replace=False)
            frac = (c + 1) / (spec.cycles + 1)
            times = (start * 1000 + hours * 3_600_000 + ms + frac) / 1000.0
            order = np.argsort(times)
            users, times = users[order], times[order]
            tail = prev.get((topic, part))
            redeliver = None if tail is None or not n_dup else (
                tail[0][-n_dup:], tail[1][-n_dup:]
            )
            next_offset[(topic, part)] = _emit_stream(
                land, one, topic, part, users, times,
                first_offset=off, suffix=suffix, redeliver=redeliver,
            )
            prev[(topic, part)] = (users, times)
        landings.append(land)
    return seed_tree, landings


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data spark table row column key value part hash join sort merge "
    "scan filter group agg window stream batch query line order customer "
    "fast slow big small vector index shard token model train eval score "
    "label text byte page node edge graph"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]


def registry_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Parquet `documents` and `embeddings` tables shaped like the fixture
    tables the registry queries read. `scale` 1.0 is 2000 documents and
    1000 embeddings. Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def save(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    n_doc = max(50, int(2000 * scale))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    save(
        "documents",
        pa.table(
            {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.13, 0.14, 0.15]),
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
    )
    n_emb = max(50, int(1000 * scale))
    dim, n_lab = 64, 10
    centers = rng.standard_normal((n_lab, dim))
    labels = rng.integers(0, n_lab, n_emb)
    vecs = centers[labels] + 0.6 * rng.standard_normal((n_emb, dim))
    dup = rng.random(n_emb) < 0.1  # near-copies of the previous vector
    for i in np.nonzero(dup)[0]:
        if i:
            vecs[i] = vecs[i - 1] + 0.01 * rng.standard_normal(dim)
            labels[i] = labels[i - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save(
        "embeddings",
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
    )
    return rows


# ---------------------------------------------------------------------------
# per-seed cache
# ---------------------------------------------------------------------------


def _build_into(build, out_dir: str) -> None:
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(build(out_dir), fh)


def cached(cache_root: str, key: str, build, keep: int = 32):
    """Run `build(dir)` once per key and reuse its result. The result must
    be JSON-serialisable; it is stored next to the data. `build` runs in a
    forked child process, so its time and memory never show in the
    caller's figures. At most `keep` entries with the same workload prefix
    stay, least recently used evicted first."""
    path = os.path.join(cache_root, key)
    meta = os.path.join(path, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        child = multiprocessing.get_context("fork").Process(
            target=_build_into, args=(build, tmp)
        )
        child.start()
        child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"input generation for {key} failed")
        os.rename(tmp, path)
        hit = False
        prefix = key.split("-", 1)[0]
        entries = sorted(
            (e for e in os.listdir(cache_root) if e.startswith(prefix) and ".tmp" not in e),
            key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
        )
        for old in entries[:-keep]:
            shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    else:
        os.utime(path)
        hit = True
    with open(meta) as fh:
        return json.load(fh), hit
