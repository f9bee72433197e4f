"""Object-store topic locks — multi-replica coordination WITHOUT a shared
POSIX filesystem (SURVEY §2 T5; reference
accounting/RedisRemoteLockManager.kt:8-45).

The reference coordinates replicated restructure services through Redis
(`SET <key> <uuid> NX PX 24h`; owner-checked delete). `FileRemoteLockManager`
(locks.py) reproduces that contract over a shared filesystem, but a real
S3-/Azure-target deployment typically has NO shared FS between replicas.
These managers speak the object store's own atomic primitive instead:
**conditional PUT** —

* acquire  = `PUT If-None-Match: *` of `{owner uuid, expires_at}` — the
             store arbitrates exactly one winner, like Redis `SET NX`;
* TTL break = `PUT If-Match: <etag-of-the-expired-lock>` — replacing the
             stale payload atomically. Two breakers read the same expired
             ETag; the store accepts exactly one replace, so a loser can
             never clobber the winner's FRESH lock (the race locks.py has
             to close with a sidecar flock simply cannot occur here);
* release  = owner-checked `PUT If-Match` of a tombstone payload with
             `expires_at: 0`. S3 general-purpose buckets have no
             conditional DELETE, and an UNconditional delete would reopen
             the break race (delete observed-expired lock after a breaker
             already replaced it) — so release never deletes: it expires.
             A tombstone is a few bytes and is reused by the next acquire's
             If-Match replace.

Both stores provide the needed conditions: S3 conditional writes
(If-None-Match / If-Match on PutObject) and Azure Blob Put Blob with
If-None-Match: * / If-Match. Failure statuses differ (S3: 412
PreconditionFailed for both; Azure: 409 BlobAlreadyExists for the create,
412 ConditionNotMet for the replace) and are normalized by the backends.

Locks live at `<prefix>/<name>.lock`, one instance uuid per manager, same
24 h TTL default as the reference (`SetParams().px(1.days)`).

**Clock assumption (differs from the reference).** Redis enforces PX expiry
on the SERVER clock; here `expires_at` is stamped by the acquirer's clock
and staleness is judged by the breaker's clock, so correctness under TTL
breaks assumes replica clocks agree to within a bounded skew — the same
assumption `FileRemoteLockManager` (locks.py) makes over mtimes. A holder
paused longer than the TTL (GC, VM freeze) can likewise lose the lock to a
breaker, exactly as it would under Redis PX. To keep a skewed breaker from
breaking a still-fresh lock, expiry is judged with a safety margin: a lock
only counts as stale once it is expired by more than the margin — by
default 1% of the LOCK's own TTL (carried in the payload so the breaker
uses the holder's TTL, not its own), capped at 60 s: ~15 min of NTP drift
headroom at the 24 h default TTL is far beyond realistic skew, while short
TTLs keep proportionally small margins. Pass `skew_margin_s` to override.
The margin only delays breaking; it never admits a second holder.

**Second staleness witness: the store's own Last-Modified.** The payload's
`expires_at` is hostage to the HOLDER's clock — a holder slow by more than
the TTL writes a lock that is born expired on every correct clock. So the
break path consults a witness the holder cannot skew: the object's
Last-Modified, stamped by the STORE at PUT time. A payload-expired lock is
only broken once the store-observed age also exceeds the payload's TTL
(with the margin plus 1 s of HTTP-date granularity slack); tombstones and
corrupt payloads (`expires_at <= 0`) are exempt — their expiry is a
deliberate owner signal, not a clock reading. The witness turns the
two-hop holder-vs-breaker skew assumption into a one-hop breaker-vs-store
one and, like the margin, only ever delays breaking.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from abc import abstractmethod

from radar_output_restructure_spark.locks import (
    DEFAULT_TTL_S,
    RemoteLock,
    RemoteLockManager,
)


class ConditionalPutLockManager(RemoteLockManager):
    """Template over the two conditional-PUT primitives; subclasses bind
    them to a concrete store. `directory` is the lock prefix URL."""

    def __init__(
        self,
        directory: str,
        ttl_s: float = DEFAULT_TTL_S,
        skew_margin_s: float | None = None,
    ):
        self.directory = directory.rstrip("/")
        self.ttl_s = ttl_s
        # bounded-clock-skew margin for TTL breaks (module docstring);
        # None = derive per-lock from the payload's own ttl_s
        self.skew_margin_s = skew_margin_s
        self.uuid = str(uuid.uuid4())

    # -- store primitives (each must be ATOMIC server-side) ---------------

    @abstractmethod
    def _create_if_absent(self, url: str, body: bytes) -> bool:
        """PUT If-None-Match: * — True iff this call created the object."""

    @abstractmethod
    def _read_with_etag(self, url: str) -> tuple[bytes, str, float | None] | None:
        """(payload, etag, store Last-Modified as epoch seconds — or None
        where the store doesn't report one) or None when absent."""

    @abstractmethod
    def _replace_if_match(self, url: str, body: bytes, etag: str) -> bool:
        """PUT If-Match: etag — True iff the object was still at `etag`."""

    # -- lock protocol ------------------------------------------------------

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
        if self.skew_margin_s is not None:
            return self.skew_margin_s
        ttl = float(payload.get("ttl_s", self.ttl_s))
        return min(ttl * 0.01, 60.0)

    @staticmethod
    def _parse(raw: bytes) -> dict:
        """Torn payloads are impossible (a conditional PUT is all-or-
        nothing), so unparseable means external corruption: breakable."""
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
        cur = self._read_with_etag(url)
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
            cur = self._read_with_etag(url)
            if cur is None:
                try:
                    created = self._create_if_absent(url, body)
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
                won = self._replace_if_match(url, body, etag)
            except Exception:
                won = self._owns(url)  # lost response: re-read (see _owns)
            if won:
                return RemoteLock(self, name)
            return None  # another breaker/acquirer won
        return None

    def _renew(self, name: str) -> bool:
        url = self._url(name)
        cur = self._read_with_etag(url)
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
            return self._replace_if_match(
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
            cur = self._read_with_etag(url)
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
                self._replace_if_match(url, self._payload(0.0), etag)
                return
            except Exception:
                continue  # lost response: re-read decides (applied -> done)
        raise IOError(f"could not release lock {url}")


class S3RemoteLockManager(ConditionalPutLockManager):
    """Locks under an s3:// prefix via S3 conditional writes.

    `client_kwargs`/`path_style` go to `S3TargetStorage` (endpoint_url,
    region_name, credentials), so the locks use exactly the client
    configuration the sink already has.
    """

    def __init__(
        self,
        directory: str,
        ttl_s: float = DEFAULT_TTL_S,
        path_style: bool = False,
        storage=None,
        skew_margin_s: float | None = None,
        **client_kwargs,
    ):
        super().__init__(directory, ttl_s, skew_margin_s)
        if storage is not None:  # reuse the sink's configured client
            self._storage = storage
        else:
            from radar_output_restructure_spark.sinks.s3_storage import (
                S3TargetStorage,
            )

            self._storage = S3TargetStorage(
                path_style=path_style, **client_kwargs
            )

    @property
    def client(self):
        return self._storage.client

    @staticmethod
    def _is_condition_failure(exc) -> bool:
        code = exc.response.get("Error", {}).get("Code", "")
        # 412 on both conditions; ConditionalRequestConflict (409) when a
        # concurrent conditional write on the same key is in flight — the
        # caller lost the race either way.
        return code in ("PreconditionFailed", "ConditionalRequestConflict")

    def _create_if_absent(self, url: str, body: bytes) -> bool:
        from radar_output_restructure_spark.sinks.s3_storage import (
            parse_s3_url,
        )

        bucket, key = parse_s3_url(url)
        try:
            self.client.put_object(
                Bucket=bucket, Key=key, Body=body, IfNoneMatch="*"
            )
            return True
        except self.client.exceptions.ClientError as exc:
            if self._is_condition_failure(exc):
                return False
            raise

    def _read_with_etag(
        self, url: str
    ) -> tuple[bytes, str, float | None] | None:
        from radar_output_restructure_spark.sinks.s3_storage import (
            parse_s3_url,
        )

        bucket, key = parse_s3_url(url)
        try:
            resp = self.client.get_object(Bucket=bucket, Key=key)
        except self.client.exceptions.ClientError as exc:
            if exc.response["Error"]["Code"] in ("404", "NoSuchKey"):
                return None
            raise
        lm = resp.get("LastModified")
        return resp["Body"].read(), resp["ETag"], (
            lm.timestamp() if lm is not None else None
        )

    def _replace_if_match(self, url: str, body: bytes, etag: str) -> bool:
        from radar_output_restructure_spark.sinks.s3_storage import (
            parse_s3_url,
        )

        bucket, key = parse_s3_url(url)
        try:
            self.client.put_object(
                Bucket=bucket, Key=key, Body=body, IfMatch=etag
            )
            return True
        except self.client.exceptions.ClientError as exc:
            if self._is_condition_failure(exc):
                return False
            raise


class AzureRemoteLockManager(ConditionalPutLockManager):
    """Locks under an azure://container/prefix via Put Blob conditions.

    Reuses `AzureTargetStorage`'s signed REST transport (SharedKey/SAS) —
    pass the same constructor arguments the sink takes.
    """

    def __init__(
        self,
        directory: str,
        endpoint_url: str | None = None,
        ttl_s: float = DEFAULT_TTL_S,
        storage=None,
        skew_margin_s: float | None = None,
        **storage_kwargs,
    ):
        super().__init__(directory, ttl_s, skew_margin_s)
        if storage is not None:  # reuse the sink's configured transport
            self._storage = storage
        else:
            if endpoint_url is None:
                raise ValueError("endpoint_url required without storage=")
            from radar_output_restructure_spark.sinks.azure_storage import (
                AzureTargetStorage,
            )

            self._storage = AzureTargetStorage(endpoint_url, **storage_kwargs)

    def _create_if_absent(self, url: str, body: bytes) -> bool:
        from radar_output_restructure_spark.sinks.azure_storage import (
            parse_azure_url,
        )

        container, key = parse_azure_url(url)
        # Azure: If-None-Match:* conflict is 409 BlobAlreadyExists
        # (412 also tolerated — emulators/proxies vary)
        status, _h, _b = self._storage._request(
            "PUT",
            container,
            key,
            body=body,
            headers={"If-None-Match": "*"},
            ok=(201, 409, 412),
        )
        return status == 201

    def _read_with_etag(
        self, url: str
    ) -> tuple[bytes, str, float | None] | None:
        from radar_output_restructure_spark.sinks.azure_storage import (
            parse_azure_url,
        )

        container, key = parse_azure_url(url)
        status, headers, data = self._storage._request(
            "GET", container, key, ok=(200, 404)
        )
        if status == 404:
            return None
        low = {k.lower(): v for k, v in headers.items()}
        etag = low.get("etag", "")
        mtime: float | None = None
        if "last-modified" in low:
            from email.utils import parsedate_to_datetime

            try:
                mtime = parsedate_to_datetime(low["last-modified"]).timestamp()
            except (TypeError, ValueError):
                mtime = None
        return data, etag, mtime

    def _replace_if_match(self, url: str, body: bytes, etag: str) -> bool:
        from radar_output_restructure_spark.sinks.azure_storage import (
            parse_azure_url,
        )

        container, key = parse_azure_url(url)
        status, _h, _b = self._storage._request(
            "PUT",
            container,
            key,
            body=body,
            headers={"If-Match": etag},
            ok=(201, 412, 409),
        )
        return status == 201


def lock_manager_for(
    lock_dir: str,
    ttl_s: float = DEFAULT_TTL_S,
    target_storage=None,
) -> RemoteLockManager:
    """Scheme-aware lock manager: s3://-prefixed lock dirs coordinate over
    S3 conditional PUT, azure:// over Put Blob conditions, anything else
    over the shared-filesystem manager. When the plan's configured
    `target_storage` already speaks the lock dir's protocol, its client
    configuration (endpoint, credentials, addressing style) is reused so
    the locks land in the same account as the output objects — the normal
    multi-replica deployment (reference: one Redis serves both the locks
    and the offsets, accounting/RedisRemoteLockManager.kt:8-45).

    `file:` lock dirs resolve to their local path. Any other scheme has no
    shared-filesystem meaning (the manager would create a directory named
    after the URI under the process's cwd, so replicas started from
    different directories would never contend): it raises ValueError."""
    if lock_dir.startswith(("s3://", "s3a://", "s3n://")):
        from radar_output_restructure_spark.sinks.s3_storage import (
            S3TargetStorage,
        )

        reuse = (
            target_storage
            if isinstance(target_storage, S3TargetStorage)
            else None
        )
        return S3RemoteLockManager(lock_dir, ttl_s=ttl_s, storage=reuse)
    if lock_dir.startswith(("azure://", "az://", "abfs://", "abfss://")):
        from radar_output_restructure_spark.sinks.azure_storage import (
            AzureTargetStorage,
        )

        if not isinstance(target_storage, AzureTargetStorage):
            raise ValueError(
                "azure:// lock_dir needs the plan's Azure target storage "
                "for endpoint/credentials; configure the Azure target or "
                "construct AzureRemoteLockManager directly"
            )
        return AzureRemoteLockManager(
            lock_dir, ttl_s=ttl_s, storage=target_storage
        )
    if lock_dir.startswith("file:"):
        url = urllib.parse.urlparse(lock_dir)
        if url.netloc not in ("", "localhost"):
            raise ValueError(f"file: lock_dir must be local: {lock_dir}")
        lock_dir = os.path.abspath(urllib.parse.unquote(url.path))
    elif "://" in lock_dir:
        raise ValueError(
            f"lock_dir scheme has no lock manager: {lock_dir} (use a local "
            "or file: path on a shared filesystem, s3:// or azure://)"
        )
    from radar_output_restructure_spark.locks import FileRemoteLockManager

    return FileRemoteLockManager(lock_dir, ttl_s=ttl_s)
