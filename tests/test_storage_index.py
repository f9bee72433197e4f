"""S9 incremental storage index (reference
source/StorageIndexManager.kt:29-95, source/InMemoryStorageIndex.kt:13-121):
steady-state polls must cost O(new files) LIST requests, with the periodic
full / empty-dir re-syncs as the safety valves."""

from __future__ import annotations

import os

from pyspark.sql import Row

from radar_output_restructure_spark.sinks.storage import LocalTargetStorage
from radar_output_restructure_spark.sources.storage_index import (
    StorageIndexManager,
)


class CountingStorage(LocalTargetStorage):
    """Counts list_entries calls and records their start_after args."""

    def __init__(self):
        self.calls: list[tuple[str, str | None]] = []

    def list_entries(self, root, start_after=None):
        self.calls.append((root, start_after))
        return super().list_entries(root, start_after)


def _mk(tree: str, *files: str) -> None:
    for f in files:
        path = os.path.join(tree, f)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write("x")


class FakeClock:
    def __init__(self, t0: float = 1000.0):
        self.t = t0

    def __call__(self) -> float:
        return self.t


def test_incremental_update_lists_past_cursor_only(tmp_path):
    """Zero-padded offsets (the Confluent sinks' default) ARE
    lexicographically monotonic, so the cursor path applies."""
    root = str(tmp_path)
    _mk(
        root,
        "t/partition=0/t+0+0000000000+0000000009.parquet",
        "t/partition=0/t+0+0000000010+0000000019.parquet",
    )
    st = CountingStorage()
    clock = FakeClock()
    idx = StorageIndexManager(st, root, clock=clock)

    idx.update()  # first update = full sync (next_sync starts at -inf)
    assert sorted(os.path.basename(p) for p, _m, _s in idx.file_status_under(root)) == [
        "t+0+0000000000+0000000009.parquet",
        "t+0+0000000010+0000000019.parquet",
    ]
    first_ops = len(st.calls)

    # steady state: new file arrives with a LATER name
    _mk(root, "t/partition=0/t+0+0000000020+0000000029.parquet")
    st.calls.clear()
    clock.t += 10  # well inside both rescan windows
    idx.update()
    # the partition dir was listed ONCE with the cursor; root/topic dirs
    # (no files) cost nothing
    with_cursor = [(r, sa) for r, sa in st.calls if sa is not None]
    assert with_cursor == [
        (
            os.path.join(root, "t/partition=0"),
            "t+0+0000000010+0000000019.parquet",
        )
    ]
    assert len(st.calls) == 1, st.calls
    names = sorted(os.path.basename(p) for p, _m, _s in idx.file_status_under(root))
    assert "t+0+0000000020+0000000029.parquet" in names and len(names) == 3
    assert first_ops >= 3  # full sync walked root + topic + partition


def test_unpadded_offsets_fall_back_to_full_listing(tmp_path):
    """Unpadded offsets roll over at digit-length boundaries (t+0+1000
    sorts BEFORE t+0+999), so a lexicographic cursor would skip every new
    file for a whole decade of offsets — such directories must be fully
    re-listed instead, and the rollover file must be visible at the very
    next update (not only after the hourly full sync)."""
    root = str(tmp_path)
    _mk(root, "t/partition=0/t+0+990+999.parquet")
    st = CountingStorage()
    clock = FakeClock()
    idx = StorageIndexManager(st, root, clock=clock)
    idx.update()

    _mk(root, "t/partition=0/t+0+1000+1009.parquet")  # sorts BEFORE cursor
    st.calls.clear()
    clock.t += 10  # inside both rescan windows: incremental pass only
    idx.update()
    # still exactly one LIST for the file-bearing dir, but WITHOUT a cursor
    assert st.calls == [(os.path.join(root, "t/partition=0"), None)]
    names = sorted(os.path.basename(p) for p, _m, _s in idx.file_status_under(root))
    assert names == ["t+0+1000+1009.parquet", "t+0+990+999.parquet"]


def test_empty_dirs_rescan_on_their_own_cadence(tmp_path):
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "quiet/partition=0"))
    st = CountingStorage()
    clock = FakeClock()
    idx = StorageIndexManager(st, root, rescan_s=3600, rescan_empty_s=900, clock=clock)
    idx.update()  # full sync indexes the empty partition dir

    st.calls.clear()
    clock.t += 10
    idx.update()  # inside the empty-rescan window: empty dirs NOT re-listed
    assert st.calls == []

    _mk(root, "quiet/partition=0/q+0+0+4.parquet")
    clock.t += 900  # past rescan_empty_s, still inside rescan_s
    st.calls.clear()
    idx.update()
    assert any("partition=0" in r for r, _sa in st.calls)
    assert [os.path.basename(p) for p, _m, _s in idx.file_status_under(root)] == [
        "q+0+0+4.parquet"
    ]


def test_full_sync_drops_deleted_files(tmp_path):
    root = str(tmp_path)
    _mk(root, "t/partition=0/t+0+0+9.parquet")
    st = CountingStorage()
    clock = FakeClock()
    idx = StorageIndexManager(st, root, rescan_s=3600, clock=clock)
    idx.update()
    os.unlink(os.path.join(root, "t/partition=0/t+0+0+9.parquet"))
    clock.t += 10
    idx.update()  # incremental: deletion not yet observed
    assert len(idx.file_status_under(root)) == 1
    clock.t += 3600  # past rescan_s -> full sync
    idx.update()
    assert idx.file_status_under(root) == []


def test_remove_and_subdirs_accessors(tmp_path):
    root = str(tmp_path)
    _mk(root, "a/partition=0/a+0+0+1.parquet", "b/partition=0/b+0+0+1.parquet")
    idx = StorageIndexManager(CountingStorage(), root)
    idx.update()
    assert idx.subdirs_of(root) == ["a", "b"]
    assert idx.subdirs_of(os.path.join(root, "a")) == ["partition=0"]
    victim = os.path.join(root, "a/partition=0/a+0+0+1.parquet")
    idx.remove(victim)
    assert victim not in [p for p, _m, _s in idx.file_status_under(root)]


def test_plan_with_index_is_incremental_and_correct(spark, tmp_path):
    """e2e: an index-enabled plan produces the same output as the walking
    plan, and its second run() performs O(new files) LIST calls."""
    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )
    from tests.test_legacy_offsets import _fixture_file

    input_dir = str(tmp_path / "in")
    row = lambda t, st_: Row(  # noqa: E731
        key=Row(projectId="p", userId="u", sourceId="s"),
        value=Row(time=t, status=st_),
    )
    _fixture_file(spark, input_dir, "t", [row(1580219820.0, "A")], 0, 0, 0)

    st = CountingStorage()
    plan = RestructurePlan(
        spark,
        RestructureConfig(
            input_dir=input_dir,
            output_dir=str(tmp_path / "out"),
            use_storage_index=True,
        ),
        source_storage=st,
    )
    assert plan.storage_index is not None
    first = plan.run()["t"]
    assert len(first) == 1  # processed normally through the index

    # second file arrives; the rerun must discover it via ONE LIST of the
    # partition dir (these fixture names are UNPADDED, so the cursor is
    # not trusted — see test_unpadded_offsets_fall_back_to_full_listing —
    # but the request count stays O(file-bearing dirs))
    _fixture_file(spark, input_dir, "t", [row(1580223420.0, "B")], 0, 1, 1)
    st.calls.clear()
    second = plan.run()["t"]
    assert len(second) == 1
    assert len(st.calls) == 1  # nothing else re-listed
    assert os.path.basename(st.calls[0][0]) == "partition=0"

    # idle tick: one LIST per file-bearing dir (the reference's
    # steady-state cost), nothing else
    st.calls.clear()
    assert plan.run() == {"t": []}
    assert [os.path.basename(r) for r, _sa in st.calls] == ["partition=0"]


# A new topic or partition dir under a dirs-only parent is found on the
# empty-rescan cadence, not only by the full sync; the per-directory cursor
# cache invalidates on remove().
class _Clock:
    def __init__(self, t0=1000.0):
        self.t = t0

    def __call__(self):
        return self.t


def _touch(*paths):
    for p in paths:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write("x")


def test_new_topic_dir_discovered_incrementally(tmp_path):
    root = str(tmp_path / "in")
    _touch(os.path.join(root, "t1", "partition=0", "t1+0+0000000001+0000000002.avro"))
    clock = _Clock()
    idx = StorageIndexManager(
        LocalTargetStorage(), root, rescan_s=3600, rescan_empty_s=900,
        clock=clock,
    )
    idx.update()  # initial full sync
    # a NEW topic and a NEW partition dir arrive after the sync
    _touch(
        os.path.join(root, "t2", "partition=0", "t2+0+0000000001+0000000002.avro"),
        os.path.join(root, "t1", "partition=1", "t1+1+0000000001+0000000002.avro"),
    )
    clock.t += 901  # cross the EMPTY cadence, stay well under the full sync
    idx.update()
    found = {p for p, _m, _s in idx.file_status_under(root)}
    assert any("t2+0" in p for p in found), (
        "new topic under the dirs-only root invisible until full sync"
    )
    clock.t += 901  # the new partition dir was discovered last tick; its
    idx.update()  # files index on the next empty-cadence tick
    found = {p for p, _m, _s in idx.file_status_under(root)}
    assert any("partition=1" in p for p in found), (
        "new partition dir under a topic invisible until full sync"
    )


def test_cursor_cache_invalidates_on_remove(tmp_path):
    root = str(tmp_path / "in")
    d = os.path.join(root, "t", "partition=0")
    f1 = os.path.join(d, "t+0+0000000001+0000000002.avro")
    f2 = os.path.join(d, "t+0+0000000003+0000000004.avro")
    _touch(f1, f2)
    clock = _Clock()
    idx = StorageIndexManager(
        LocalTargetStorage(), root, rescan_s=3600, rescan_empty_s=900,
        clock=clock,
    )
    idx.update()
    # remove the LAST file (the cursor), then add an earlier-sorting one:
    # set size is back to 2 — a size-keyed cache must not reuse the stale
    # cursor f2 and skip the new arrival
    idx.remove(f2)
    os.remove(f2)
    f_new = os.path.join(d, "t+0+0000000002+0000000002.avro")
    _touch(f_new)
    clock.t += 1
    idx.update()
    found = {p for p, _m, _s in idx.file_status_under(root)}
    assert f_new in found
