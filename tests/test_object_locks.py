"""The topic-lock protocol over every storage backend's conditional writes:
the reference's Redis lock contract (accounting/RedisRemoteLockManager.kt:
8-45) on the local filesystem (link/flock), S3 conditional writes (moto
server) and Azure Put Blob conditions (in-process emulator) — the object
stores coordinate replicas with NO shared POSIX filesystem.

Also covers the manifest-over-s3:// rerun-pruning path: the seen-offset
ledger (sources/manifest.py) reading and committing through
S3TargetStorage, so a replicated deployment's accounting state lives next
to its output objects.
"""

from __future__ import annotations

import json
import threading
import time

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from radar_output_restructure_spark.locks import (  # noqa: E402
    RemoteLockManager,
    lock_manager_for,
)
from radar_output_restructure_spark.sinks.azure_storage import (  # noqa: E402
    AzureTargetStorage,
)
from radar_output_restructure_spark.sinks.s3_storage import (  # noqa: E402
    S3TargetStorage,
)
from radar_output_restructure_spark.sinks.storage import (  # noqa: E402
    LocalTargetStorage,
)
from radar_output_restructure_spark.sources.manifest import (  # noqa: E402
    FileEntry,
    ProcessedFileManifest,
)

BUCKET = "lock-bucket"
S3_CRED = dict(
    aws_access_key_id="testing",
    aws_secret_access_key="testing",
    region_name="us-east-1",
)


@pytest.fixture(scope="module")
def s3_endpoint():
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    boto3.client("s3", endpoint_url=endpoint, **S3_CRED).create_bucket(
        Bucket=BUCKET
    )
    yield endpoint
    server.stop()


def _s3_manager(endpoint: str, prefix: str, ttl_s: float = 3600.0):
    return RemoteLockManager(
        f"s3://{BUCKET}/{prefix}",
        S3TargetStorage(endpoint_url=endpoint, **S3_CRED),
        ttl_s,
    )


@pytest.fixture
def azure_endpoint():
    from tests.azure_emulator import AzureBlobEmulator

    with AzureBlobEmulator() as endpoint:
        yield endpoint


def _azure_manager(endpoint: str, prefix: str, ttl_s: float = 3600.0):
    return RemoteLockManager(
        f"azure://locks/{prefix}", AzureTargetStorage(endpoint), ttl_s
    )


def _local_manager(root, prefix: str, ttl_s: float = 3600.0):
    return RemoteLockManager(str(root / prefix), LocalTargetStorage(), ttl_s)


def _factories(local: bool = True):
    """(fixture name, manager factory) per backend; local=False keeps the
    object stores, whose Last-Modified is the second staleness witness."""
    stores = [
        ("s3_endpoint", _s3_manager),
        ("azure_endpoint", _azure_manager),
    ]
    return [("tmp_path", _local_manager), *stores] if local else stores


@pytest.mark.parametrize("fixture,factory", _factories())
def test_acquire_is_exclusive_across_replicas(fixture, factory, request):
    endpoint = request.getfixturevalue(fixture)
    a = factory(endpoint, "t1")
    b = factory(endpoint, "t1")
    lock = a.acquire_lock("topic")
    assert lock is not None
    assert b.acquire_lock("topic") is None  # held by a: store says no
    lock.close()
    lock2 = b.acquire_lock("topic")  # tombstoned, not deleted -> breakable
    assert lock2 is not None
    lock2.close()


@pytest.mark.parametrize("fixture,factory", _factories())
def test_stale_lock_is_broken_and_reacquired(fixture, factory, request):
    endpoint = request.getfixturevalue(fixture)
    a = factory(endpoint, "t2", ttl_s=0.05)  # crashes without releasing
    b = factory(endpoint, "t2")
    assert a.acquire_lock("topic") is not None
    time.sleep(0.1)
    lock = b.acquire_lock("topic")
    assert lock is not None  # expired lock broken via replace-if-match
    lock.close()


@pytest.mark.parametrize("fixture,factory", _factories())
def test_release_is_owner_checked(fixture, factory, request):
    """An owner releasing its EXPIRED lock after a breaker re-acquired must
    not disturb the breaker's fresh lock (the reference's
    `if (redis.get(key) == uuid) del` contract)."""
    endpoint = request.getfixturevalue(fixture)
    a = factory(endpoint, "t3", ttl_s=0.05)
    b = factory(endpoint, "t3")
    stale = a.acquire_lock("topic")
    assert stale is not None
    time.sleep(0.1)
    fresh = b.acquire_lock("topic")
    assert fresh is not None
    stale.close()  # a's release sees owner==b and leaves it alone
    assert factory(endpoint, "t3").acquire_lock("topic") is None
    fresh.close()


@pytest.mark.parametrize("fixture,factory", _factories())
def test_try_with_lock_context(fixture, factory, request):
    endpoint = request.getfixturevalue(fixture)
    a = factory(endpoint, "t4")
    b = factory(endpoint, "t4")
    with a.try_with_lock("topic") as la:
        assert la is not None
        with b.try_with_lock("topic") as lb:
            assert lb is None
    with b.try_with_lock("topic") as lb:
        assert lb is not None


@pytest.mark.parametrize("fixture,factory", _factories())
def test_concurrent_contention_single_winner(fixture, factory, request):
    """8 replicas race for one topic; the store's conditional PUT must
    arbitrate exactly one holder per round, every round."""
    endpoint = request.getfixturevalue(fixture)
    managers = [factory(endpoint, "t5", ttl_s=3600.0) for _ in range(8)]
    winners: list[int] = []
    lock_box: list = []
    barrier = threading.Barrier(8)

    def contend(i: int):
        barrier.wait()
        lock = managers[i].acquire_lock("topic")
        if lock is not None:
            winners.append(i)
            lock_box.append(lock)

    for _round in range(3):
        winners.clear()
        lock_box.clear()
        threads = [
            threading.Thread(target=contend, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(winners) == 1, f"round holders: {winners}"
        lock_box[0].close()


def test_s3_lock_payload_shape(s3_endpoint):
    """The lock object is the reference's Redis value re-expressed: the
    holding instance uuid plus an expiry the breaker can evaluate."""
    mgr = _s3_manager(s3_endpoint, "t6")
    lock = mgr.acquire_lock("topic")
    assert lock is not None
    client = boto3.client("s3", endpoint_url=s3_endpoint, **S3_CRED)
    raw = client.get_object(Bucket=BUCKET, Key="t6/topic.lock")["Body"].read()
    info = json.loads(raw)
    assert info["owner"] == mgr.uuid
    assert info["expires_at"] > time.time()
    lock.close()
    # release tombstones (expires) rather than deleting: no conditional
    # DELETE on S3 general-purpose buckets, and an unconditional delete
    # would reopen the break race
    raw = client.get_object(Bucket=BUCKET, Key="t6/topic.lock")["Body"].read()
    assert json.loads(raw)["expires_at"] == 0.0


def test_manifest_rerun_pruning_over_s3(s3_endpoint):
    """The seen-offset ledger works bucket-native: commit on one 'replica',
    prune on a fresh one reading the same s3:// prefix — the no-shared-FS
    deployment the reference serves with OffsetRedisPersistence."""
    storage = S3TargetStorage(endpoint_url=s3_endpoint, **S3_CRED)
    root = f"s3://{BUCKET}/state/manifest"
    first = ProcessedFileManifest(root, storage=storage)
    files = [
        FileEntry("topic/part0+0+100.avro", 1000),
        FileEntry("topic/part0+100+200.avro", 2000),
    ]
    assert first.prune(files) == files  # nothing processed yet
    first.commit(files)

    second = ProcessedFileManifest(root, storage=storage)  # fresh replica
    newer = FileEntry("topic/part0+200+300.avro", 3000)
    modified = FileEntry("topic/part0+0+100.avro", 1500)  # mtime changed
    assert second.prune([files[0], files[1], newer, modified]) == [
        newer,
        modified,
    ]

    second.revoke([files[1]])
    third = ProcessedFileManifest(root, storage=storage)
    assert third.prune([files[1]]) == [files[1]]  # revocation visible

    third.compact()
    fourth = ProcessedFileManifest(root, storage=storage)
    assert fourth.prune([files[0]]) == []  # compaction preserved state


def test_lock_manager_for_scheme_dispatch(s3_endpoint, azure_endpoint, tmp_path):
    s3_storage = S3TargetStorage(endpoint_url=s3_endpoint, **S3_CRED)
    mgr = lock_manager_for(
        f"s3://{BUCKET}/dispatch", target_storage=s3_storage
    )
    assert mgr.storage is s3_storage  # sink client reused
    with mgr.try_with_lock("topic") as lock:
        assert lock is not None

    az_storage = AzureTargetStorage(azure_endpoint)
    mgr = lock_manager_for("azure://locks/dispatch", target_storage=az_storage)
    assert mgr.storage is az_storage
    with mgr.try_with_lock("topic") as lock:
        assert lock is not None

    # azure lock dir without azure credentials to reuse is a config error
    with pytest.raises(ValueError):
        lock_manager_for("azure://locks/x", target_storage=s3_storage)

    # a local lock dir with an object-store target: local conditional writes
    mgr = lock_manager_for(str(tmp_path / "locks"), target_storage=s3_storage)
    assert isinstance(mgr.storage, LocalTargetStorage)
    assert (tmp_path / "locks").is_dir()


def _two_replica_backend(fixture_name: str, endpoint: str):
    """(make_storage, make_lock_mgr, out_url, lock_url) per object store."""
    if fixture_name == "s3_endpoint":
        make_storage = lambda: S3TargetStorage(  # noqa: E731
            endpoint_url=endpoint, **S3_CRED
        )
        root = f"s3://{BUCKET}/two_replica"
    else:
        make_storage = lambda: AzureTargetStorage(endpoint)  # noqa: E731
        root = "azure://tworep"
    make_mgr = lambda url: RemoteLockManager(url, make_storage())  # noqa: E731
    return make_storage, make_mgr, f"{root}/out", f"{root}/locks"


@pytest.mark.parametrize("fixture,_factory", _factories(local=False))
def test_two_replica_full_pipeline(fixture, _factory, request, spark):
    """r7 verdict item 4: TWO complete restructure instances running
    CONCURRENTLY against one shared object-store target (s3:// via moto,
    azure:// via the emulator) — object locks + shared manifest + shared
    output, the reference's replicated deployment mode
    (worker/RadarKafkaRestructure.kt:108-128 tryWithLock-or-skip over
    accounting/RedisRemoteLockManager.kt:8-45).

    Asserts the full contract the pieces prove individually:
    * disjoint topic processing — for every topic exactly ONE replica
      writes (the other either skips on lock contention or prunes an
      already-committed listing to nothing);
    * exactly-once output — the union of CSV rows equals the input rows,
      no duplicates, none missing, even though both replicas attempted
      every topic;
    * clean lock release — every topic lock is re-acquirable afterwards;
    * a rerun of BOTH replicas is a global no-op.
    """
    import threading

    from pyspark.sql import Row

    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )
    from tests.test_legacy_offsets import _fixture_file

    import tempfile

    endpoint = request.getfixturevalue(fixture)
    make_storage, make_mgr, out, lock_dir = _two_replica_backend(
        fixture, endpoint
    )
    input_dir = tempfile.mkdtemp(prefix="two_replica_in_")
    topics = ["t_alpha", "t_beta", "t_gamma", "t_delta"]
    n_rows = {}
    for ti, topic in enumerate(topics):
        rows = [
            Row(
                key=Row(projectId="p", userId=f"u{r % 3}", sourceId="s"),
                value=Row(
                    time=1580219820.0 + r * 60.0, status=f"{topic}-{r}"
                ),
            )
            for r in range(20)
        ]
        # two files per topic so commit batches are non-trivial
        _fixture_file(spark, input_dir, topic, rows[:12], 0, 0, 11)
        _fixture_file(spark, input_dir, topic, rows[12:], 0, 12, 19)
        n_rows[topic] = len(rows)

    def make_plan(seed: int) -> RestructurePlan:
        # each replica = its own plan instance, own lock-manager uuid, own
        # store client; opposite shuffle seeds start them on different
        # topics like the reference's shuffled topic order (O5)
        return RestructurePlan(
            spark,
            RestructureConfig(
                input_dir=input_dir,
                output_dir=out,
                lock_dir=lock_dir,
                shuffle_topics=True,
                shuffle_seed=seed,
            ),
            target_storage=make_storage(),
        )

    results: dict[int, dict] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run_replica(idx: int, seed: int) -> None:
        try:
            plan = make_plan(seed)
            barrier.wait(timeout=60)
            results[idx] = plan.run()
        except BaseException as exc:  # surface into the test thread
            errors.append(exc)

    threads = [
        threading.Thread(target=run_replica, args=(i, seed))
        for i, seed in enumerate((7, 1))  # seed 7 permutes, 1 differs
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert set(results) == {0, 1}

    # disjoint processing: exactly one replica wrote each topic
    for topic in topics:
        writers = [i for i in (0, 1) if results[i].get(topic)]
        assert len(writers) <= 1, f"{topic} written by both replicas"
    written_topics = {
        t for r in results.values() for t, files in r.items() if files
    }
    assert written_topics == set(topics)

    # exactly-once output: union of CSV rows == input rows, no dupes
    storage = make_storage()
    statuses: list[str] = []
    for path in storage.walk_files(out):
        if not path.endswith(".csv"):
            continue
        lines = storage.read(path).decode().strip().splitlines()
        assert lines[0] == "key.projectId,key.userId,key.sourceId,value.time,value.status"
        statuses += [ln.rsplit(",", 1)[1] for ln in lines[1:]]
    assert len(statuses) == sum(n_rows.values())
    assert len(set(statuses)) == len(statuses)  # no duplicate rows
    expected = {
        f"{topic}-{r}" for topic in topics for r in range(n_rows[topic])
    }
    assert set(statuses) == expected

    # clean release: every topic lock is immediately re-acquirable
    mgr = make_mgr(lock_dir)
    for topic in topics:
        lock = mgr.acquire_lock(topic)
        assert lock is not None, f"lock for {topic} not released"
        lock.close()

    # rerun both replicas: global no-op (manifest prunes everything)
    for seed in (7, 1):
        rerun = make_plan(seed).run()
        assert all(files == [] for files in rerun.values()), rerun


@pytest.mark.parametrize("fixture,factory", _factories(local=False))
def test_break_consults_store_last_modified(fixture, factory, request):
    """Second staleness witness: a payload that claims to be expired but
    whose object the STORE says was written moments ago (= the holder's
    clock is skewed behind by more than the TTL) must NOT be breakable;
    once the store-observed age really exceeds the payload TTL it must be.
    Tombstones (expires_at <= 0) stay exempt: release is an owner signal,
    not a clock reading."""
    endpoint = request.getfixturevalue(fixture)
    mgr = factory(endpoint, "t7")
    url = mgr._url("topic")

    # a holder whose clock runs >TTL slow: expires_at already in the past
    # on every correct clock, but Last-Modified is NOW
    skewed = json.dumps(
        {"owner": "skewed-holder", "expires_at": time.time() - 50, "ttl_s": 300}
    ).encode()
    assert mgr.storage.create_if_absent(url, skewed)
    assert mgr.acquire_lock("topic") is None  # store says it is young

    # same payload shape but a ttl the store-observed age already exceeds
    # (1 s HTTP-date granularity slack included): genuinely abandoned
    _raw, etag, _m = mgr.storage.read_with_etag(url)
    stale = json.dumps(
        {"owner": "skewed-holder", "expires_at": time.time() - 50, "ttl_s": 0.5}
    ).encode()
    assert mgr.storage.replace_if_match(url, stale, etag)
    time.sleep(1.6)  # store age > ttl + slack
    lock = mgr.acquire_lock("topic")
    assert lock is not None

    # owner-signed tombstone with a FRESH Last-Modified is still breakable
    lock.close()
    lock2 = factory(endpoint, "t7").acquire_lock("topic")
    assert lock2 is not None
    lock2.close()


@pytest.mark.parametrize("fixture,factory", _factories())
def test_renew_extends_and_reports_loss(fixture, factory, request):
    """Conditional-PUT renew: owner-checked etag replace extends expiry
    (and refreshes the store's Last-Modified, re-arming the witness); a
    broken-and-reacquired lock, or one's own tombstone, answers False."""
    endpoint = request.getfixturevalue(fixture)
    a = factory(endpoint, "t9", ttl_s=0.5)
    url = a._url("topic")
    lock_a = a.acquire_lock("topic")
    assert lock_a is not None
    raw0, _e, _m = a.storage.read_with_etag(url)
    e0 = json.loads(raw0)["expires_at"]
    time.sleep(0.05)
    assert lock_a.renew() is True
    raw1, _e, _m = a.storage.read_with_etag(url)
    assert json.loads(raw1)["expires_at"] > e0
    assert json.loads(raw1)["owner"] == a.uuid

    # expired (ttl 0.5 <= 1 s slack: payload-only judgement) and broken by
    # another manager: renew reports the loss, new holder's lock survives
    time.sleep(0.7)
    b = factory(endpoint, "t9", ttl_s=30.0)
    lock_b = b.acquire_lock("topic")
    assert lock_b is not None
    assert lock_a.renew() is False
    raw2, _e, _m = a.storage.read_with_etag(url)
    assert json.loads(raw2)["owner"] == b.uuid

    # one's own tombstone is never revived by renew
    lock_b.close()
    assert lock_b.renew() is False
    raw3, _e, _m = b.storage.read_with_etag(url)
    assert json.loads(raw3)["expires_at"] == 0.0


@pytest.mark.parametrize("fixture,factory", _factories(local=False))
def test_witness_threshold_exceeds_ttl_plus_margin(fixture, factory, request):
    """The witness must DELAY breaking until store-observed age exceeds
    ttl + margin + slack — not ttl - margin - slack. A correct holder owns
    the lock until store-age ~ttl, so a threshold below ttl admits a second
    holder whenever the holder's clock is merely slow (the exact scenario
    the witness exists for). Regression: the two sides of the sign differ
    only inside the (ttl - margin - 1, ttl + margin + 1) age window, which
    the other witness tests never enter."""
    endpoint = request.getfixturevalue(fixture)
    mgr = factory(endpoint, "t8")
    # ttl 2 s: the margin is 1% of it, so the window is ~(ttl - 1, ttl + 1)
    url = mgr._url("topic")

    t0 = time.time()
    skewed = json.dumps(
        {"owner": "slow-clock-holder", "expires_at": t0 - 50, "ttl_s": 2.0}
    ).encode()
    assert mgr.storage.create_if_absent(url, skewed)

    # payload-expired AND past the inverted threshold (age > ttl - 1), but
    # a correct holder would still be inside its own TTL: must refuse
    time.sleep(1.4)
    assert mgr.acquire_lock("topic") is None

    # past ttl + margin + slack: genuinely abandoned, must break
    while time.time() - t0 < 3.3:
        time.sleep(0.2)
    lock = mgr.acquire_lock("topic")
    assert lock is not None
    lock.close()
