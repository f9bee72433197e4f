"""Multi-instance topic locks (SURVEY §2 T5; reference
accounting/RedisRemoteLockManager.kt:8-45, usage
worker/RadarKafkaRestructure.kt:108-128).

The reference coordinates replicated restructure services through Redis:
`SET <prefix>/<topic>.lock <instance-uuid> NX PX 24h`; release deletes the
key only if it still holds the instance's own UUID. A single Spark
application doesn't need this — the driver serializes topics — but two
restructure *applications* pointed at the same output tree do. The same
contract is kept here over the conditional writes of the storage backend
that holds the locks (`TargetStorage.create_if_absent` / `read_with_etag` /
`replace_if_match`: S3 conditional writes, Azure Put Blob conditions, and
hard links plus a file lock on a local or shared filesystem):

* acquire  = create-if-absent of `{owner uuid, expires_at, ttl_s}` — the
             store arbitrates exactly one winner, like Redis `SET NX`;
* TTL break = replace-if-match against the etag of the expired lock. Two
             breakers read the same expired etag; the store accepts exactly
             one replace, so a loser never clobbers the winner's FRESH lock;
* release  = owner-checked replace-if-match of a tombstone payload with
             `expires_at: 0`. S3 general-purpose buckets have no conditional
             DELETE, and an UNconditional delete would reopen the break race
             (delete an observed-expired lock after a breaker already
             replaced it) — so release never deletes: it expires. A
             tombstone is a few bytes and is reused by the next acquire's
             replace.

Locks live at `<directory>/<name>.lock`, one instance uuid per manager, same
24 h TTL default as the reference (`SetParams().px(1.days)`).

**Clock assumption (differs from the reference).** Redis enforces PX expiry
on the SERVER clock; here `expires_at` is stamped by the acquirer's clock
and staleness is judged by the breaker's clock, so correctness under TTL
breaks assumes replica clocks agree to within a bounded skew. A holder
paused longer than the TTL (GC, VM freeze) can likewise lose the lock to a
breaker, exactly as it would under Redis PX. To keep a skewed breaker from
breaking a still-fresh lock, a lock only counts as stale once it is expired
by more than a margin: 1% of the LOCK's own TTL (carried in the payload so
the breaker uses the holder's TTL, not its own), capped at 60 s — ~15 min
of drift headroom at the 24 h default, proportionally small for short
TTLs. The margin only delays breaking; it never admits a second holder.

**Second staleness witness: the store's own Last-Modified.** The payload's
`expires_at` is hostage to the HOLDER's clock — a holder slow by more than
the TTL writes a lock that is born expired on every correct clock. So the
break path consults a witness the holder cannot skew: the object's
Last-Modified, stamped by the STORE at PUT time. A payload-expired lock is
only broken once the store-observed age also exceeds the payload's TTL
(with the margin plus 1 s of HTTP-date granularity slack); tombstones and
corrupt payloads (`expires_at <= 0`) are exempt — their expiry is a
deliberate owner signal, not a clock reading. Stores that report no
Last-Modified (the local filesystem) keep the payload-only judgement.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from contextlib import contextmanager

DEFAULT_TTL_S = 24 * 3600.0  # reference: SetParams().px(1.days)


class RemoteLock:
    def __init__(self, manager: "RemoteLockManager", name: str):
        self._manager = manager
        self.name = name

    def renew(self) -> bool:
        """Re-stamp expires_at to now + the manager's TTL (for holders that
        outlive the TTL — e.g. a resident streaming query; the reference
        re-SETs its Redis key per work cycle, RedisRemoteLockManager.kt).
        False = the lock is no longer this holder's (expired and broken, or
        already released): mutual exclusion is LOST and the caller must
        stop relying on it — renew never re-acquires."""
        return self._manager._renew(self.name)

    def close(self) -> None:
        self._manager._release(self.name)

    def __enter__(self) -> "RemoteLock":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class RemoteLockManager:
    """acquire_lock(name) -> RemoteLock | None (None = held elsewhere), over
    the conditional writes of `storage`; `directory` is the lock prefix."""

    def __init__(self, directory: str, storage, ttl_s: float = DEFAULT_TTL_S):
        self.directory = directory.rstrip("/")
        self.storage = storage
        self.ttl_s = ttl_s
        self.uuid = str(uuid.uuid4())
        storage.makedirs(self.directory)

    @contextmanager
    def try_with_lock(self, name: str):
        """`with manager.try_with_lock(topic) as lock:` — lock is None when
        another instance holds it (reference RemoteLockManager.tryWithLock)."""
        lock = self.acquire_lock(name)
        try:
            yield lock
        finally:
            if lock is not None:
                lock.close()

    def _url(self, name: str) -> str:
        return f"{self.directory}/{name}.lock"

    def _payload(self, expires_at: float) -> bytes:
        # ttl_s travels in the payload so a BREAKER derives the skew margin
        # from the LOCK's TTL, not its own (a 24 h-TTL replica must still
        # break a short-TTL lock promptly).
        return json.dumps(
            {"owner": self.uuid, "expires_at": expires_at, "ttl_s": self.ttl_s}
        ).encode()

    def _margin_for(self, payload: dict) -> float:
        ttl = float(payload.get("ttl_s", self.ttl_s))
        return min(ttl * 0.01, 60.0)

    @staticmethod
    def _parse(raw: bytes) -> dict:
        """Torn payloads are impossible (every store publishes a lock
        all-or-nothing), so unparseable means external corruption:
        breakable."""
        try:
            return json.loads(raw.decode())
        except (ValueError, UnicodeDecodeError):
            return {"expires_at": 0.0}

    def _owns(self, url: str) -> bool:
        """Re-read and check ownership — resolves a conditional PUT whose
        RESPONSE was lost (connection dropped after the request was sent):
        the store may have applied it, so neither success nor failure can
        be assumed. Ownership is in the payload, so one extra GET answers
        definitively."""
        cur = self.storage.read_with_etag(url)
        if cur is None:
            return False
        parsed = self._parse(cur[0])
        return (
            parsed.get("owner") == self.uuid
            and float(parsed.get("expires_at", 0)) > 0
        )

    def acquire_lock(self, name: str) -> RemoteLock | None:
        url = self._url(name)
        body = self._payload(time.time() + self.ttl_s)
        # Two passes: pass 1 may lose an absent->created race to another
        # instance, in which case pass 2 re-reads and judges freshness.
        for _ in range(2):
            cur = self.storage.read_with_etag(url)
            if cur is None:
                try:
                    created = self.storage.create_if_absent(url, body)
                except Exception:
                    # lost response: the create may have applied under our
                    # uuid — re-read rather than report "held elsewhere"
                    # and strand our own lock for the full TTL
                    created = self._owns(url)
                if created:
                    return RemoteLock(self, name)
                continue  # someone created it between read and PUT
            raw, etag, mtime = cur
            parsed = self._parse(raw)
            expires_at = float(parsed.get("expires_at", 0))
            margin = self._margin_for(parsed)
            now = time.time()
            if expires_at + margin > now:
                return None  # held and fresh (within the skew margin)
            # second witness (module docstring): a payload-expired lock
            # whose store-side age is still under its own TTL was stamped
            # by a skewed holder clock, not abandoned — leave it alone.
            # expires_at <= 0 is an owner-signed tombstone (or corruption):
            # deliberately expired, no clock to second-guess.
            if expires_at > 0 and mtime is not None:
                ttl = float(parsed.get("ttl_s", self.ttl_s))
                # Breakable only once store-observed age exceeds the
                # payload's OWN ttl plus the breaker-vs-store margin plus
                # 1 s of HTTP-date granularity slack: a correct holder
                # considers itself owner until store-age ~ttl, so any
                # smaller threshold admits a second holder when the
                # holder's clock is merely slow (not crashed). TTLs at or
                # under the slack are below Last-Modified's whole-second
                # resolution and fall back to payload-only judgement.
                if ttl > 1.0 and now - mtime < ttl + margin + 1.0:
                    return None
            # expired (or tombstoned): atomic break — single winner
            try:
                won = self.storage.replace_if_match(url, body, etag)
            except Exception:
                won = self._owns(url)  # lost response: re-read (see _owns)
            if won:
                return RemoteLock(self, name)
            return None  # another breaker/acquirer won
        return None

    def _renew(self, name: str) -> bool:
        url = self._url(name)
        cur = self.storage.read_with_etag(url)
        if cur is None:
            return False  # deleted externally: lost
        raw, etag, _mtime = cur
        parsed = self._parse(raw)
        if parsed.get("owner") != self.uuid:
            return False  # broken + re-acquired elsewhere: lost
        if float(parsed.get("expires_at", 0)) <= 0:
            return False  # our own tombstone: already released, never revive
        # conditional replace: if a breaker won between read and PUT, the
        # etag moved and this loses — exactly the answer renew must give.
        # (The PUT also refreshes the store's Last-Modified, so the second
        # staleness witness ages from the RENEWAL, as it should.)
        try:
            return self.storage.replace_if_match(
                url, self._payload(time.time() + self.ttl_s), etag
            )
        except Exception:
            # lost response: the replace may have applied. Re-read and
            # judge by ownership — if we still own the lock the renewal
            # either applied (fresh expiry) or the old lease is still live
            # (renewals run at TTL/3); either way mutual exclusion holds
            # and the next renewal settles expiry. Owned-by-someone-else is
            # a definitive loss (False). If the re-read ALSO fails, the
            # original error propagates: the caller (e.g. the streaming
            # keeper thread) retries sooner on a raised renew.
            return self._owns(url)

    def _release(self, name: str) -> None:
        url = self._url(name)
        # retried: a lost-response tombstone PUT that did NOT apply would
        # otherwise strand the topic locked until the TTL
        for _ in range(3):
            cur = self.storage.read_with_etag(url)
            if cur is None:
                return
            raw, etag, _mtime = cur
            parsed = self._parse(raw)
            if parsed.get("owner") != self.uuid:
                return  # broken + re-acquired elsewhere: not ours to expire
            if float(parsed.get("expires_at", 0)) <= 0:
                return  # our tombstone already applied
            # tombstone, never delete (module docstring: no conditional
            # DELETE on S3 general-purpose buckets; unconditional delete
            # is racy)
            try:
                self.storage.replace_if_match(url, self._payload(0.0), etag)
                return
            except Exception:
                continue  # lost response: re-read decides (applied -> done)
        raise IOError(f"could not release lock {url}")


def lock_manager_for(
    lock_dir: str,
    ttl_s: float = DEFAULT_TTL_S,
    target_storage=None,
) -> RemoteLockManager:
    """Lock manager over the storage backend that speaks `lock_dir`'s
    scheme: s3:// over S3 conditional writes, azure:// over Put Blob
    conditions, plain and `file:` paths over the local (or shared)
    filesystem. When the plan's `target_storage` is of that backend, it is
    reused so the locks land in the same account, with the same endpoint
    and credentials, as the output objects — the normal multi-replica
    deployment (reference: one Redis serves both the locks and the
    offsets, accounting/RedisRemoteLockManager.kt:8-45).

    `file:` lock dirs resolve to their local path. Any other scheme has no
    lock backend (a directory named after the URI under the process's cwd
    would never contend across replicas started elsewhere): ValueError."""
    from radar_output_restructure_spark.sinks.storage import LocalTargetStorage

    if lock_dir.startswith(("s3://", "s3a://", "s3n://")):
        from radar_output_restructure_spark.sinks.s3_storage import (
            S3TargetStorage,
        )

        if not isinstance(target_storage, S3TargetStorage):
            target_storage = S3TargetStorage()
    elif lock_dir.startswith(("azure://", "az://", "abfs://", "abfss://")):
        from radar_output_restructure_spark.sinks.azure_storage import (
            AzureTargetStorage,
        )

        if not isinstance(target_storage, AzureTargetStorage):
            raise ValueError(
                "azure:// lock_dir needs the plan's Azure target storage "
                "for endpoint/credentials; configure the Azure target or "
                "construct RemoteLockManager with an AzureTargetStorage"
            )
    else:
        if lock_dir.startswith("file:"):
            url = urllib.parse.urlparse(lock_dir)
            if url.netloc not in ("", "localhost"):
                raise ValueError(f"file: lock_dir must be local: {lock_dir}")
            lock_dir = os.path.abspath(urllib.parse.unquote(url.path))
        elif "://" in lock_dir:
            raise ValueError(
                f"lock_dir scheme has no lock manager: {lock_dir} (use a "
                "local or file: path on a shared filesystem, s3:// or "
                "azure://)"
            )
        if not isinstance(target_storage, LocalTargetStorage):
            target_storage = LocalTargetStorage()
    return RemoteLockManager(lock_dir, target_storage, ttl_s)
