"""T5 topic locks + O5 topic shuffle (reference
accounting/RedisRemoteLockManager.kt:8-45,
worker/RadarKafkaRestructure.kt:108-128,166-169).

The lock protocol itself runs on every backend in test_object_locks.py;
these are the local-filesystem invariants and the plan integration."""

from __future__ import annotations

import json
import os
import time

from radar_output_restructure_spark.locks import (
    RemoteLockManager,
    lock_manager_for,
)
from radar_output_restructure_spark.sinks.storage import LocalTargetStorage


def _tombstoned(path) -> bool:
    """Released: the lock file stays as an owner-signed tombstone."""
    return json.load(open(path))["expires_at"] == 0.0


def test_acquire_is_exclusive_across_instances(tmp_path):
    a = lock_manager_for(str(tmp_path))
    b = lock_manager_for(str(tmp_path))
    lock = a.acquire_lock("topic1")
    assert lock is not None
    assert b.acquire_lock("topic1") is None  # held elsewhere
    assert b.acquire_lock("topic2") is not None  # other names independent
    lock.close()
    assert b.acquire_lock("topic1") is not None  # released -> acquirable


def test_stale_lock_is_broken_and_reacquired(tmp_path):
    a = lock_manager_for(str(tmp_path), ttl_s=0.01)
    b = lock_manager_for(str(tmp_path))
    assert a.acquire_lock("t") is not None
    time.sleep(0.05)  # a's lock expires (crashed holder)
    lock_b = b.acquire_lock("t")
    assert lock_b is not None
    # the old holder's release must NOT delete b's lock (owner check,
    # reference: `if (redis.get(lockKey) == uuid) redis.del(lockKey)`)
    a._release("t")
    assert json.load(open(tmp_path / "t.lock"))["owner"] == b.uuid
    lock_b.close()
    assert _tombstoned(tmp_path / "t.lock")
    assert lock_manager_for(str(tmp_path)).acquire_lock("t") is not None  # at once


def test_renew_extends_expiry_and_reports_loss(tmp_path):
    """A holder outliving the TTL (resident streaming query) renews; a
    broken-and-reacquired lock answers renew() with False so the old
    holder knows mutual exclusion is gone — renew never re-acquires."""
    a = lock_manager_for(str(tmp_path), ttl_s=0.4)
    lock_a = a.acquire_lock("t")
    assert lock_a is not None
    e0 = json.load(open(tmp_path / "t.lock"))["expires_at"]
    time.sleep(0.05)
    assert lock_a.renew() is True
    e1 = json.load(open(tmp_path / "t.lock"))["expires_at"]
    assert e1 > e0  # expiry actually advanced
    assert json.load(open(tmp_path / "t.lock"))["owner"] == a.uuid

    # expired + broken by another instance: renew reports the loss and
    # must not clobber the new holder's lock
    time.sleep(0.5)
    b = lock_manager_for(str(tmp_path), ttl_s=10.0)
    lock_b = b.acquire_lock("t")
    assert lock_b is not None
    assert lock_a.renew() is False
    assert json.load(open(tmp_path / "t.lock"))["owner"] == b.uuid

    # renew after one's own release: also a loss, and no resurrection
    lock_b.close()
    assert lock_b.renew() is False
    assert _tombstoned(tmp_path / "t.lock")
    assert lock_manager_for(str(tmp_path)).acquire_lock("t") is not None  # at once


def test_try_with_lock_context(tmp_path):
    a = lock_manager_for(str(tmp_path))
    b = lock_manager_for(str(tmp_path))
    with a.try_with_lock("t") as la:
        assert la is not None
        with b.try_with_lock("t") as lb:
            assert lb is None  # contended: body sees None, skips topic
    with b.try_with_lock("t") as lb:  # a's context exit released it
        assert lb is not None


def test_unreadable_lock_file_is_breakable(tmp_path):
    (tmp_path / "t.lock").write_text("not json")
    m = lock_manager_for(str(tmp_path))
    assert m.acquire_lock("t") is not None


def test_lock_file_is_never_torn(tmp_path):
    """Link-published locks appear fully written: the payload is readable
    the instant the lock path exists (no zero-byte O_EXCL window)."""
    m = lock_manager_for(str(tmp_path))
    assert m.acquire_lock("t") is not None
    info = json.load(open(tmp_path / "t.lock"))
    assert info["owner"] == m.uuid and info["expires_at"] > time.time()
    assert info["ttl_s"] == m.ttl_s  # breakers judge by the holder's TTL
    assert os.listdir(tmp_path) == ["t.lock"]  # temp file cleaned


def test_concurrent_stale_break_single_holder(tmp_path):
    """N instances all observing the same expired lock: the flock-serialized
    compare-and-replace means exactly one acquire succeeds (no
    unlink-then-recreate double hold)."""
    import threading

    stale = lock_manager_for(str(tmp_path), ttl_s=-1.0)
    assert stale.acquire_lock("t") is not None  # already expired

    managers = [lock_manager_for(str(tmp_path)) for _ in range(8)]
    barrier = threading.Barrier(len(managers))
    wins: list[RemoteLockManager] = []
    lock_guard = threading.Lock()

    def attempt(m):
        barrier.wait()
        if m.acquire_lock("t") is not None:
            with lock_guard:
                wins.append(m)

    threads = [threading.Thread(target=attempt, args=(m,)) for m in managers]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(wins) == 1
    assert json.load(open(tmp_path / "t.lock"))["owner"] == wins[0].uuid
    # no residue beyond the lock and its persistent flock sidecar
    assert sorted(os.listdir(tmp_path)) == ["t.lock", "t.lock.mutex"]


def test_break_loser_does_not_remove_winners_lock(tmp_path):
    """A breaker that loses the break race re-reads a FRESH lock and backs
    off — it must not replace the winner's re-acquired lock."""
    stale = lock_manager_for(str(tmp_path), ttl_s=-1.0)
    assert stale.acquire_lock("t") is not None
    winner = lock_manager_for(str(tmp_path))
    loser = lock_manager_for(str(tmp_path))
    assert winner.acquire_lock("t") is not None  # broke + re-acquired
    assert loser.acquire_lock("t") is None  # fresh lock: contended
    assert json.load(open(tmp_path / "t.lock"))["owner"] == winner.uuid


def test_topic_shuffle_seeded_and_complete(tmp_path, spark):
    """O5: shuffle_topics permutes discovery order deterministically under a
    seed; the set of topics is unchanged."""
    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )

    input_dir = tmp_path / "in"
    for t in ["alpha", "beta", "gamma", "delta", "epsilon"]:
        (input_dir / t / "partition=0").mkdir(parents=True)
    base = RestructurePlan(
        spark,
        RestructureConfig(input_dir=str(input_dir), output_dir=str(tmp_path / "o1")),
    ).topics()
    assert base == sorted(base)  # unshuffled discovery is sorted
    shuf1 = RestructurePlan(
        spark,
        RestructureConfig(
            input_dir=str(input_dir),
            output_dir=str(tmp_path / "o2"),
            shuffle_topics=True,
            shuffle_seed=7,
        ),
    ).topics()
    shuf2 = RestructurePlan(
        spark,
        RestructureConfig(
            input_dir=str(input_dir),
            output_dir=str(tmp_path / "o3"),
            shuffle_topics=True,
            shuffle_seed=7,
        ),
    ).topics()
    assert sorted(shuf1) == sorted(base)
    assert shuf1 == shuf2  # seed pins the permutation
    assert shuf1 != base  # seed 7 actually permutes 5 topics


def test_locked_topic_is_skipped_by_second_plan(tmp_path, spark):
    """Two plans sharing a lock_dir: while one holds a topic's lock, the
    other's run() skips that topic (returns []) without touching its files."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )
    from tests.test_legacy_offsets import SCHEMA, _fixture_file

    input_dir = str(tmp_path / "in")
    lock_dir = str(tmp_path / "locks")
    rows = [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=1580219820.0, status="A"),
        )
    ]
    _fixture_file(spark, input_dir, "t", rows, 0, 0, 0)

    cfg = lambda out: RestructureConfig(  # noqa: E731
        input_dir=input_dir, output_dir=str(tmp_path / out), lock_dir=lock_dir
    )
    plan_a = RestructurePlan(spark, cfg("out_a"))
    plan_b = RestructurePlan(spark, cfg("out_b"))
    held = plan_a._lock_manager.acquire_lock("t")
    assert held is not None
    assert plan_b.run() == {"t": []}  # skipped, not failed
    held.close()
    written = plan_b.run()["t"]
    assert written  # retried after release


def test_file_uri_lock_dir_resolves_to_local_path(tmp_path, monkeypatch):
    """A `file:` lock dir names the same directory from any cwd: two
    replicas started in different directories contend on one lock."""
    lock_dir = tmp_path / "locks"
    for cwd, uri in (("a", f"file://{lock_dir}"), ("b", f"file:{lock_dir}")):
        (tmp_path / cwd).mkdir()
        monkeypatch.chdir(tmp_path / cwd)
        mgr = lock_manager_for(uri)
        assert isinstance(mgr.storage, LocalTargetStorage)
        assert mgr.directory == str(lock_dir)
    held = lock_manager_for(f"file://{lock_dir}").acquire_lock("t")
    assert held is not None
    assert (lock_dir / "t.lock").exists()
    assert lock_manager_for(f"file:{lock_dir}").acquire_lock("t") is None
    held.close()
    assert not (tmp_path / "a" / "file:").exists()


def test_unsupported_lock_dir_scheme_fails_plan_construction(tmp_path, spark):
    """A scheme with no conditional-write lock manager (hdfs://) is a
    configuration error at RestructurePlan construction, not a lock
    directory created relative to the cwd."""
    import pytest

    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )

    cfg = RestructureConfig(
        input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        lock_dir="hdfs://nn/locks",
    )
    cwd = os.getcwd()
    with pytest.raises(ValueError, match="hdfs://nn/locks"):
        RestructurePlan(spark, cfg)
    assert not os.path.exists(os.path.join(cwd, "hdfs:"))
