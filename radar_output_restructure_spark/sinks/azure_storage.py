"""Native Azure Blob Storage backend (SURVEY §2 S3/S14; reference
source/AzureSourceStorage.kt:79-99, target/AzureTargetStorage.kt:41-145).

The reference talks to Azure through the official SDK; this engine speaks
the Blob service REST API directly over stdlib HTTP — no SDK dependency —
exactly like the S3 backend speaks S3 via boto3. Why REST-native instead of
the Hadoop ABFS seam alone: the driver-side control plane (listings,
ledgers, the cleaner) issues many tiny metadata calls, and a py4j round-trip
per call through the JVM FileSystem is the slow path; the data plane (bulk
reads) still flows through Spark's own ABFS connector.

Authentication, both real-world modes:

* SharedKey — request signing per the Azure `SharedKey` scheme
  (HMAC-SHA256 over the canonicalized headers + resource); implemented in
  `_sign_shared_key` and unit-tested against the documented canonical form.
* SAS token — appended to every query string, no signing.

Paths use `azure://<container>/<key>` (mirroring the reference's
`azure://` target type); the account endpoint comes from `endpoint_url`
(`https://<account>.blob.core.windows.net` in production, the emulator URL
in tests).

Semantics the writers rely on:

* `store_atomic` / `store_atomic_writer` — ONE `Put Blob` request. Azure
  block-blob PUT is atomic: the new content becomes visible only when the
  request succeeds, readers of the old blob are never torn (the reference's
  overwrite-PUT model, AzureTargetStorage.kt:41-60). Bodies buffer in
  memory; the output files this engine writes are time-bin sized (MBs).
* `list_entries` — one `List Blobs` page walk with prefix+delimiter. The
  Blob API has no server-side `StartAfter`; the marker protocol is opaque,
  so the start-after contract is honoured client-side per page — the
  incremental index still works, Azure just re-reads names server-side
  (documented divergence; the reference's Azure listing pays the same).
"""

from __future__ import annotations

import base64
import email.utils
import hashlib
import hmac
import http.client
import io
import threading
import urllib.parse
import xml.etree.ElementTree as ET
from contextlib import contextmanager

from radar_output_restructure_spark.sinks.storage import (
    RangedReader,
    TargetStorage,
    as_prefix,
)

API_VERSION = "2021-08-06"


def parse_azure_url(path: str) -> tuple[str, str]:
    """azure://container/key/parts -> (container, key)."""
    rest = path.split("://", 1)[1]
    container, _, key = rest.partition("/")
    return container, key


def _sign_shared_key(
    account: str,
    key_b64: str,
    method: str,
    path: str,
    query: dict[str, str],
    headers: dict[str, str],
    content_length: int,
) -> str:
    """`SharedKey` authorization header value (docs: "Authorize requests to
    Azure Storage"). Canonicalized headers are the sorted x-ms-* headers;
    the canonicalized resource is /account/path plus sorted query params."""
    canon_headers = "".join(
        f"{k.lower()}:{headers[k].strip()}\n"
        for k in sorted(headers, key=str.lower)
        if k.lower().startswith("x-ms-")
    )
    canon_resource = f"/{account}{path}"
    for k in sorted(query, key=str.lower):
        canon_resource += f"\n{k.lower()}:{query[k]}"
    string_to_sign = "\n".join(
        [
            method,
            "",  # Content-Encoding
            "",  # Content-Language
            str(content_length) if content_length else "",
            "",  # Content-MD5
            headers.get("Content-Type", ""),
            "",  # Date (empty: x-ms-date is used)
            "",  # If-Modified-Since
            headers.get("If-Match", ""),  # conditional PUT (locks.py)
            headers.get("If-None-Match", ""),
            "",  # If-Unmodified-Since
            "",  # Range (ranged reads use x-ms-range, canonical above)
            canon_headers + canon_resource,
        ]
    )
    digest = hmac.new(
        base64.b64decode(key_b64), string_to_sign.encode(), hashlib.sha256
    ).digest()
    return f"SharedKey {account}:{base64.b64encode(digest).decode()}"


class AzureTargetStorage(TargetStorage):
    """TargetStorage over the Azure Blob REST API.

    `endpoint_url`: service root, e.g. https://acct.blob.core.windows.net
    `account` / `account_key`: SharedKey credentials (key base64, the
        portal's format). Omit both when using `sas_token` or an
        unauthenticated emulator.
    `sas_token`: pre-signed query string (with or without leading '?').
    """

    executor_safe = True  # plain picklable config; connections open lazily

    def __init__(
        self,
        endpoint_url: str,
        account: str | None = None,
        account_key: str | None = None,
        sas_token: str | None = None,
        timeout: float = 60.0,
    ):
        u = urllib.parse.urlsplit(endpoint_url)
        self._scheme = u.scheme or "https"
        self._host = u.hostname
        self._port = u.port or (443 if self._scheme == "https" else 80)
        #: Azurite-style endpoints carry the account as the first path
        #: segment (http://host:port/devstoreaccount1); real endpoints don't.
        self._base_path = u.path.rstrip("/")
        self.account = account
        self._key = account_key
        self._sas = (sas_token or "").lstrip("?") or None
        self._timeout = timeout
        self._local = threading.local()  # one keep-alive socket per thread

    # sockets (and threading.local) don't pickle; executors re-open lazily
    def __getstate__(self):
        state = self.__dict__.copy()
        state.pop("_local", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._local = threading.local()

    # -- low-level request --------------------------------------------------

    def _request(
        self,
        method: str,
        container: str,
        key: str,
        query: dict[str, str] | None = None,
        body: bytes | None = None,
        headers: dict[str, str] | None = None,
        ok: tuple[int, ...] = (200, 201, 202),
    ) -> tuple[int, dict[str, str], bytes]:
        query = dict(query or {})
        path = f"{self._base_path}/{container}"
        if key:
            path += "/" + urllib.parse.quote(key)
        headers = dict(headers or {})
        headers["x-ms-version"] = API_VERSION
        headers["x-ms-date"] = email.utils.formatdate(usegmt=True)
        if body is not None:
            headers["x-ms-blob-type"] = headers.get("x-ms-blob-type", "BlockBlob")
        if self._sas:
            query.update(urllib.parse.parse_qsl(self._sas))
        elif self.account and self._key:
            headers["Authorization"] = _sign_shared_key(
                self.account,
                self._key,
                method,
                path,
                query,
                headers,
                len(body) if body else 0,
            )
        qs = urllib.parse.urlencode(query)
        url = path + ("?" + qs if qs else "")
        # Persistent per-thread connection (http.client is not thread-safe
        # and the plan runs topic threads): the module exists because the
        # cleaner/ledger issue thousands of tiny metadata calls, and paying
        # a fresh TCP+TLS handshake per call would hand that advantage
        # back. One retry on a stale keep-alive (server closed between
        # requests) with a fresh connection — but ONLY for idempotent
        # requests. A conditional PUT (If-None-Match/If-Match — the lock
        # manager's create/renew) may have been APPLIED server-side with
        # the response lost on the dropped connection; blindly re-sending
        # it returns 412/409 and the caller concludes someone ELSE holds
        # the lock it just created — a lock owned by our own uuid, never
        # released, blocking the topic for the full TTL. Unconditional
        # PUT/DELETE retries are safe (same-body overwrite / delete
        # tolerates 404); conditional failures propagate so the caller can
        # re-read the blob and check ownership.
        conditional = any(
            h.lower() in ("if-none-match", "if-match") for h in headers
        )
        retriable = not conditional
        for attempt in (0, 1):
            conn = getattr(self._local, "conn", None)
            if conn is None:
                cls = (
                    http.client.HTTPSConnection
                    if self._scheme == "https"
                    else http.client.HTTPConnection
                )
                conn = cls(self._host, self._port, timeout=self._timeout)
                self._local.conn = conn
            try:
                conn.request(method, url, body=body, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
            except (http.client.HTTPException, OSError):
                conn.close()
                self._local.conn = None
                if attempt or not retriable:
                    raise
                continue  # stale keep-alive: retry once on a fresh socket
            if resp.status not in ok:
                raise IOError(
                    f"Azure {method} {container}/{key} -> {resp.status}: "
                    f"{data[:200]!r}"
                )
            return resp.status, dict(resp.getheaders()), data

    # -- TargetStorage contract ---------------------------------------------

    def exists(self, path: str) -> bool:
        container, key = parse_azure_url(path)
        status, _h, _b = self._request(
            "HEAD", container, key, ok=(200, 404)
        )
        return status == 200

    def read(self, path: str) -> bytes:
        container, key = parse_azure_url(path)
        _s, _h, body = self._request("GET", container, key)
        return body

    @contextmanager
    def store_atomic_writer(self, path: str):
        container, key = parse_azure_url(path)
        buf = io.BytesIO()
        yield buf
        # reached only on clean exit: ONE atomic overwrite Put Blob
        self._request(
            "PUT", container, key, body=buf.getvalue(), ok=(201,)
        )

    def makedirs(self, path: str) -> None:
        pass  # flat namespace: directories are name prefixes

    def delete(self, path: str) -> None:
        container, key = parse_azure_url(path)
        status, _h, _b = self._request(
            "DELETE", container, key, ok=(202, 404)
        )
        if status == 404:
            # directory-style delete: remove every blob under the prefix
            for sub in self.walk_files(path):
                c2, k2 = parse_azure_url(sub)
                self._request("DELETE", c2, k2, ok=(202, 404))

    def _list(
        self,
        container: str,
        prefix: str,
        delimiter: str | None = None,
    ):
        """Yield (name, mtime_ms, size) blobs and prefix names under
        `prefix`, following the marker pagination protocol."""
        marker = None
        while True:
            query = {"restype": "container", "comp": "list", "prefix": prefix}
            if delimiter:
                query["delimiter"] = delimiter
            if marker:
                query["marker"] = marker
            _s, _h, body = self._request("GET", container, "", query=query)
            root = ET.fromstring(body)
            for el in root.iter("Blob"):
                name = el.findtext("Name")
                props = el.find("Properties")
                lm = props.findtext("Last-Modified") if props is not None else None
                size = props.findtext("Content-Length") if props is not None else 0
                mtime_ms = (
                    int(
                        email.utils.parsedate_to_datetime(lm).timestamp() * 1000
                    )
                    if lm
                    else 0
                )
                yield ("blob", name, mtime_ms, int(size or 0))
            for el in root.iter("BlobPrefix"):
                yield ("prefix", el.findtext("Name"), 0, 0)
            marker = root.findtext("NextMarker")
            if not marker:
                return

    def walk_file_status(self, root: str) -> list[tuple[str, int, int]]:
        container, key = parse_azure_url(root)
        return [
            (f"azure://{container}/{name}", m, s)
            for kind, name, m, s in self._list(container, as_prefix(key))
            if kind == "blob"
        ]

    def list_entries(
        self, root: str, start_after: str | None = None
    ) -> tuple[list[str], list[tuple[str, int, int]]]:
        container, key = parse_azure_url(root)
        prefix = as_prefix(key)
        dirs: set[str] = set()
        files: list[tuple[str, int, int]] = []
        cutoff = prefix + start_after if start_after else None
        for kind, name, m, s in self._list(container, prefix, delimiter="/"):
            if kind == "prefix":
                dirs.add(name.rstrip("/").rsplit("/", 1)[-1])
            else:
                base = name[len(prefix):]
                if "/" in base or not base:
                    continue
                if cutoff is None or name > cutoff:
                    files.append((base, m, s))
        return sorted(dirs), sorted(files)

    def mtime_ms(self, path: str) -> int:
        container, key = parse_azure_url(path)
        _s, headers, _b = self._request("HEAD", container, key)
        lm = {k.lower(): v for k, v in headers.items()}["last-modified"]
        return int(email.utils.parsedate_to_datetime(lm).timestamp() * 1000)

    def open_seekable(self, path: str):
        container, key = parse_azure_url(path)
        _s, headers, _b = self._request("HEAD", container, key)
        size = int({k.lower(): v for k, v in headers.items()}["content-length"])

        def fetch(start: int, n: int) -> bytes:
            rng = {"x-ms-range": f"bytes={start}-{start + n - 1}"}
            return self._request(
                "GET", container, key, headers=rng, ok=(200, 206)
            )[2]

        return RangedReader(size, fetch)

    # -- conditional writes (the topic-lock primitives, locks.py) ----------

    def _put_if(self, path: str, body: bytes, condition: dict) -> bool:
        container, key = parse_azure_url(path)
        # a failed If-None-Match:* is 409 BlobAlreadyExists, a failed
        # If-Match 412 ConditionNotMet (both tolerated on either —
        # emulators/proxies vary)
        status, _h, _b = self._request(
            "PUT", container, key, body=body, headers=condition,
            ok=(201, 409, 412),
        )
        return status == 201

    def create_if_absent(self, path: str, body: bytes) -> bool:
        return self._put_if(path, body, {"If-None-Match": "*"})

    def replace_if_match(self, path: str, body: bytes, etag: str) -> bool:
        return self._put_if(path, body, {"If-Match": etag})

    def read_with_etag(self, path: str) -> tuple[bytes, str, float | None] | None:
        container, key = parse_azure_url(path)
        status, headers, data = self._request(
            "GET", container, key, ok=(200, 404)
        )
        if status == 404:
            return None
        low = {k.lower(): v for k, v in headers.items()}
        mtime: float | None = None
        if "last-modified" in low:
            try:
                mtime = email.utils.parsedate_to_datetime(
                    low["last-modified"]
                ).timestamp()
            except (TypeError, ValueError):
                mtime = None
        return data, low.get("etag", ""), mtime
