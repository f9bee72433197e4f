"""Regression tests for the round-9 ADVICE findings (fixed in round 10).

1. streaming lock keeper: a TRANSIENT renew() exception must not release
   the topic lock while the query runs; a definitively lost lock stops the
   query BEFORE releasing (stream_restructure._keep_and_release).
2. manifest replay: a concurrent compactor deleting a listed segment
   mid-replay must trigger re-list + retry, not crash load()/prune()
   (sources/manifest.ProcessedFileManifest).
3. path format: a mixed literal+param segment with exactly one param keeps
   the param-derived column name (pf_topic for "logs-${topic}"); ${topic}
   sharing a segment with another param is rejected at construction
   (plans/path_format.PathFormat.partition_columns).
4. conditional-PUT locks: a lost-response PUT (applied server-side, error
   raised client-side) is resolved by re-reading ownership instead of
   stranding our own lock for the full TTL (locks.RemoteLockManager).
5. Azure keep-alive: the automatic one-retry must not re-send conditional
   PUTs (sinks/azure_storage.AzureTargetStorage._request).
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from radar_output_restructure_spark.locks import RemoteLockManager
from radar_output_restructure_spark.sources.manifest import (
    FileEntry,
    ProcessedFileManifest,
)
from radar_output_restructure_spark.streaming.stream_restructure import (
    _keep_and_release,
)


# ---------------------------------------------------------------------------
# 1. lock keeper renew semantics
# ---------------------------------------------------------------------------


class _FakeQuery:
    """StreamingQuery stand-in: awaitTermination blocks on an event."""

    def __init__(self):
        self._done = threading.Event()
        self.stopped = False

    def awaitTermination(self, timeout):
        return self._done.wait(timeout)

    def stop(self):
        self.stopped = True
        self._done.set()

    def terminate(self):
        self._done.set()


class _FakeLock:
    def __init__(self, renew_results):
        # renew_results: iterable of True/False/Exception per call
        self._results = list(renew_results)
        self.events: list[str] = []

    def renew(self):
        self.events.append("renew")
        r = self._results.pop(0) if self._results else True
        if isinstance(r, Exception):
            raise r
        return r

    def close(self):
        self.events.append("close")


def test_keeper_transient_renew_error_keeps_lock():
    """A renew() that raises once (503/socket timeout) must NOT release the
    lock while the query runs: the keeper retries sooner and recovers."""
    query = _FakeQuery()
    lock = _FakeLock([IOError("503"), True, True])
    t = threading.Thread(
        target=_keep_and_release, args=(query, lock, 0.9), daemon=True
    )
    t.start()
    # renew_every = max(0.3, 0.5) = 0.5; the error retry waits ~0.1 s.
    # Give it time for: renew(err) -> retry renew(True) -> another renew.
    time.sleep(1.6)
    assert not query.stopped, "transient renew error must not stop the query"
    assert "close" not in lock.events, (
        "transient renew error released the lock while the query runs"
    )
    assert lock.events.count("renew") >= 2, "keeper did not retry the renew"
    query.terminate()
    t.join(timeout=5)
    assert lock.events[-1] == "close"  # released only after termination


def test_keeper_persistent_renew_errors_stop_query_before_release():
    """Errors persisting past the TTL mean the lease may be gone: the query
    must be stopped BEFORE the lock is released."""
    query = _FakeQuery()
    err = IOError("503")
    lock = _FakeLock([err] * 50)
    order: list[str] = []
    real_stop, real_close = query.stop, lock.close
    query.stop = lambda: (order.append("stop"), real_stop())[1]
    lock.close = lambda: (order.append("close"), real_close())[1]
    t = threading.Thread(
        target=_keep_and_release, args=(query, lock, 0.9), daemon=True
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive()
    assert order == ["stop", "close"], (
        "on a definitively lost lock the query must stop before release"
    )


def test_keeper_lost_lock_stops_query_then_releases():
    query = _FakeQuery()
    lock = _FakeLock([False])
    t = threading.Thread(
        target=_keep_and_release, args=(query, lock, 0.9), daemon=True
    )
    t.start()
    t.join(timeout=10)
    assert query.stopped
    assert lock.events[-1] == "close"


# ---------------------------------------------------------------------------
# 2. manifest replay under a concurrent compactor
# ---------------------------------------------------------------------------


def test_manifest_load_survives_concurrent_compaction(tmp_path):
    mdir = str(tmp_path / "manifest")
    m = ProcessedFileManifest(mdir)
    m.commit([FileEntry("a", 1)])
    m.commit([FileEntry("b", 2)])
    m.revoke([FileEntry("a", 1)])
    m.commit([FileEntry("c", 3)])

    racer = ProcessedFileManifest(mdir)
    real_read = m.storage.read
    fired = {"n": 0}

    def racing_read(path):
        if fired["n"] == 0:
            fired["n"] += 1
            # the racer compacts (publishes the compacted segment, then
            # deletes every original) between our listing and this read
            racer.compact()
            raise FileNotFoundError(path)
        return real_read(path)

    m.storage.read = racing_read
    state = m.load()
    assert state == {"b": 2, "c": 3}
    assert fired["n"] == 1  # the retry replayed the compacted segment


def test_manifest_compact_survives_concurrent_compactor(tmp_path):
    mdir = str(tmp_path / "manifest")
    m = ProcessedFileManifest(mdir)
    for i in range(4):
        m.commit([FileEntry(f"f{i}", i)])
    racer = ProcessedFileManifest(mdir)
    real_read = m.storage.read
    fired = {"n": 0}

    def racing_read(path):
        if fired["n"] == 0:
            fired["n"] += 1
            racer.compact()
            raise FileNotFoundError(path)
        return real_read(path)

    m.storage.read = racing_read
    m.compact()  # must restart from a fresh listing, not crash
    assert ProcessedFileManifest(mdir).load() == {
        f"f{i}": i for i in range(4)
    }


# ---------------------------------------------------------------------------
# 3. mixed literal+param path segments
# ---------------------------------------------------------------------------


def test_mixed_literal_param_segment_keeps_param_name(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.functions.timeutil import event_time
    from radar_output_restructure_spark.plans.path_format import PathFormat
    from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA

    df = spark.createDataFrame(
        [
            Row(
                key=Row(projectId="p", userId="u", sourceId="s"),
                value=Row(
                    time=1580219820.0, serverStatus="CONNECTED", ipAddress=None
                ),
                topic="t",
            )
        ],
        SERVER_STATUS_SCHEMA + ", topic string",
    )
    fmt = PathFormat(
        fmt="logs-${topic}/${userId}/${filename}", extension=".csv"
    )
    out, names = fmt.partition_columns(df, event_time(df))
    assert "pf_topic" in names, (
        "writers hard-code topic_col='pf_topic'; a positional pf_seg<i> "
        "name fails the write with an unresolved-column error"
    )
    row = out.first()
    assert row["pf_topic"] == "logs-t"  # literal text preserved in the VALUE


def test_topic_sharing_segment_with_param_rejected():
    from radar_output_restructure_spark.plans.path_format import PathFormat

    with pytest.raises(ValueError, match="topic"):
        PathFormat(fmt="${topic}-${userId}/${filename}", extension=".csv")


# ---------------------------------------------------------------------------
# 4. conditional-PUT lock protocol: lost-response resolution
# ---------------------------------------------------------------------------


class _LossyMemStorage:
    """In-memory store whose conditional PUTs can APPLY server-side and
    then raise client-side (dropped connection after send)."""

    def __init__(self):
        self.blobs: dict[str, tuple[bytes, int]] = {}  # url -> (body, ver)
        self.lose_next = 0  # apply, then raise, for the next N cond PUTs

    def makedirs(self, path):
        pass

    def _maybe_lose(self):
        if self.lose_next > 0:
            self.lose_next -= 1
            raise IOError("connection dropped after send")

    def create_if_absent(self, url, body):
        if url in self.blobs:
            return False
        self.blobs[url] = (body, 1)
        self._maybe_lose()
        return True

    def read_with_etag(self, url):
        if url not in self.blobs:
            return None
        body, ver = self.blobs[url]
        return body, str(ver), time.time()

    def replace_if_match(self, url, body, etag):
        cur = self.blobs.get(url)
        if cur is None or str(cur[1]) != etag:
            return False
        self.blobs[url] = (body, cur[1] + 1)
        self._maybe_lose()
        return True


def _lossy_manager() -> RemoteLockManager:
    return RemoteLockManager("mem://locks", _LossyMemStorage(), ttl_s=60.0)


def test_lost_response_create_still_acquires():
    mgr = _lossy_manager()
    mgr.storage.lose_next = 1
    lock = mgr.acquire_lock("t")
    assert lock is not None, (
        "a create that applied under our uuid must be recognized as OURS, "
        "not reported held-by-someone-else for the full TTL"
    )
    lock.close()
    assert mgr.acquire_lock("t") is not None  # released, re-acquirable


def test_lost_response_renew_still_renews():
    mgr = _lossy_manager()
    lock = mgr.acquire_lock("t")
    mgr.storage.lose_next = 1
    assert lock.renew() is True
    lock.close()


def test_lost_response_release_still_releases():
    mgr = _lossy_manager()
    lock = mgr.acquire_lock("t")
    mgr.storage.lose_next = 1
    lock.close()  # must not strand the tombstone PUT
    assert mgr.acquire_lock("t") is not None


# ---------------------------------------------------------------------------
# 5. Azure keep-alive retry must skip conditional PUTs
# ---------------------------------------------------------------------------


def test_azure_keepalive_retry_skips_conditional_put(monkeypatch):
    import http.client

    from radar_output_restructure_spark.sinks.azure_storage import (
        AzureTargetStorage,
    )

    st = AzureTargetStorage("http://127.0.0.1:1/devaccount", account_key="")
    calls = {"n": 0}

    class _DeadConn:
        def __init__(self, *a, **k):
            pass

        def request(self, *a, **k):
            calls["n"] += 1
            raise http.client.HTTPException("server closed keep-alive")

        def close(self):
            pass

    monkeypatch.setattr(http.client, "HTTPConnection", _DeadConn)

    # idempotent GET: retried once (two sends)
    calls["n"] = 0
    with pytest.raises(Exception):
        st._request("GET", "c", "k")
    assert calls["n"] == 2

    # conditional PUT: NOT retried (one send) — a blind re-send of an
    # applied If-None-Match create reads as held-by-someone-else
    calls["n"] = 0
    with pytest.raises(Exception):
        st._request(
            "PUT", "c", "k", body=b"x", headers={"If-None-Match": "*"}
        )
    assert calls["n"] == 1
