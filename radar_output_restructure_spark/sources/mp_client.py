"""ManagementPortal REST client feeding the `${mp:...}` path plugin.

Closes the G5 gap (reference path/MPPathFormatterPlugin.kt:30-157): the
reference resolves organization / project / group / externalId / attributes
per record by querying ManagementPortal over OAuth2 client-credentials with
10-minute TTL caches. The Spark-first translation keeps the LOOKUP driver-
side — the portal is a small REST service that must never be hammered from
a thousand executors — and materializes the answers as the `mp_dim`
dimension DataFrame that `PathFormat` broadcast-joins (plans/path_format.py),
so the per-record resolution stays a JVM-side hash probe.

Shape of the public ManagementPortal API (the same endpoints MPClient in
radar-kotlin uses):

* ``POST {url}/oauth/token`` — client-credentials grant, HTTP basic auth,
  returns ``{"access_token": ...}``.
* ``GET {url}/api/projects`` — ``[{"projectName", "organization": {"id"},
  "attributes": {...}}, ...]``.
* ``GET {url}/api/projects/{projectName}/subjects`` — ``[{"login",
  "externalId", "group", "attributes": {...}}, ...]``.

Caching mirrors the reference's CacheConfig (MPPathFormatterPlugin.kt:56-60):
entries refresh after ``refresh_s`` (default 10 min), a FAILED fetch keeps
serving the previous value and retries no sooner than ``retry_s`` (10 s).
Credentials default to the MANAGEMENT_PORTAL_CLIENT_ID / _CLIENT_SECRET
environment variables exactly like the reference plugin's properties doc.

The offline path — callers materializing ``mp_dim`` themselves — remains the
default; this client is the online convenience on top of it.
"""

from __future__ import annotations

import base64
import json
import os
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

#: reference CacheConfig.refreshDuration / retryDuration
DEFAULT_REFRESH_S = 600.0
DEFAULT_RETRY_S = 10.0


def _default_transport(
    url: str, headers: dict[str, str], data: bytes | None = None
) -> bytes:
    req = urllib.request.Request(url, data=data, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.read()


@dataclass
class _CacheEntry:
    value: Any = None
    fresh_until: float = 0.0
    retry_after: float = 0.0
    have_value: bool = False


class MPClient:
    """Driver-side ManagementPortal client with TTL caches.

    ``transport`` is injectable for tests: ``(url, headers, data) -> bytes``.
    """

    def __init__(
        self,
        url: str,
        client_id: str | None = None,
        client_secret: str | None = None,
        refresh_s: float = DEFAULT_REFRESH_S,
        retry_s: float = DEFAULT_RETRY_S,
        transport: Callable[..., bytes] | None = None,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.url = url.rstrip("/")
        self.client_id = client_id or os.environ.get(
            "MANAGEMENT_PORTAL_CLIENT_ID", ""
        )
        self.client_secret = client_secret or os.environ.get(
            "MANAGEMENT_PORTAL_CLIENT_SECRET", ""
        )
        self.refresh_s = refresh_s
        self.retry_s = retry_s
        self._transport = transport or _default_transport
        self._clock = clock
        self._token_cache = _CacheEntry()
        self._projects = _CacheEntry()
        self._subjects: dict[str, _CacheEntry] = {}

    # -- cache machinery ---------------------------------------------------

    def _cached(self, entry: _CacheEntry, fetch: Callable[[], Any]) -> Any:
        now = self._clock()
        if entry.have_value and now < entry.fresh_until:
            return entry.value
        if now < entry.retry_after:  # failed recently: serve stale
            if entry.have_value:
                return entry.value
            raise RuntimeError("ManagementPortal fetch failing and no cached value")
        try:
            entry.value = fetch()
            entry.have_value = True
            entry.fresh_until = now + self.refresh_s
            entry.retry_after = 0.0
            return entry.value
        except Exception:
            entry.retry_after = now + self.retry_s
            if entry.have_value:
                return entry.value
            raise

    # -- REST calls --------------------------------------------------------

    def _token(self) -> str:
        def fetch() -> str:
            basic = base64.b64encode(
                f"{self.client_id}:{self.client_secret}".encode()
            ).decode()
            body = urllib.parse.urlencode(
                {"grant_type": "client_credentials"}
            ).encode()
            raw = self._transport(
                f"{self.url}/oauth/token",
                {
                    "Authorization": f"Basic {basic}",
                    "Content-Type": "application/x-www-form-urlencoded",
                },
                body,
            )
            payload = json.loads(raw)
            # remember the token's OWN lifetime: a 5-min token cached for
            # the 10-min default window would be served dead for minutes
            expires_in = payload.get("expires_in")
            self._token_lifetime_cap = (
                self._clock() + float(expires_in) * 0.9
                if expires_in is not None
                else None
            )
            return payload["access_token"]

        token = self._cached(self._token_cache, fetch)
        # _cached stamps fresh_until = now + refresh_s AFTER fetch returns;
        # cap it to the token's own lifetime when that is shorter
        cap = getattr(self, "_token_lifetime_cap", None)
        if cap is not None and self._token_cache.fresh_until > cap:
            self._token_cache.fresh_until = cap
        return token

    def _get_json(self, path: str) -> Any:
        try:
            raw = self._transport(
                f"{self.url}{path}",
                {"Authorization": f"Bearer {self._token()}"},
                None,
            )
        except Exception as exc:
            # an expired/revoked token must not keep poisoning every call
            # until the cache window lapses: drop it and retry ONCE with a
            # freshly fetched one
            if "401" not in str(exc):
                raise
            self._token_cache.have_value = False
            self._token_cache.fresh_until = 0.0
            self._token_cache.retry_after = 0.0
            raw = self._transport(
                f"{self.url}{path}",
                {"Authorization": f"Bearer {self._token()}"},
                None,
            )
        return json.loads(raw)

    def projects(self) -> list[dict]:
        return self._cached(
            self._projects, lambda: self._get_json("/api/projects")
        )

    def subjects(self, project_id: str) -> list[dict]:
        entry = self._subjects.setdefault(project_id, _CacheEntry())
        quoted = urllib.parse.quote(project_id, safe="")
        return self._cached(
            entry,
            lambda: self._get_json(f"/api/projects/{quoted}/subjects"),
        )

    # -- the dimension table ----------------------------------------------

    def mp_dim(self, spark) -> "DataFrame":  # noqa: F821
        """(projectId, userId, organization, group, externalId, <attrs>...)
        — the dimension frame `PathFormat.mp_dim` broadcast-joins.

        Column semantics match the reference's lookup defaults
        (MPPathFormatterPlugin.kt:100-118): organization falls back to
        ``unknown-organization``, group to ``default``, externalId to the
        subject id; project attributes surface as ``project:<name>`` columns
        (the ``${{mp:project:<name>}}`` parameter), subject attributes under
        their own names. Missing-subject records resolve post-join to the
        sanitize default instead, a documented delta.
        """
        rows: list[dict[str, str]] = []
        attr_cols: set[str] = set()
        fixed = ("projectId", "userId", "organization", "group", "externalId")
        for proj in self.projects():
            pid = proj.get("projectName") or proj.get("id") or ""
            org = (proj.get("organization") or {}).get(
                "id"
            ) or "unknown-organization"
            pattrs = {
                f"project:{k}": str(v)
                for k, v in (proj.get("attributes") or {}).items()
            }
            for subj in self.subjects(pid):
                sid = subj.get("login") or subj.get("id") or ""
                row = {
                    "projectId": pid,
                    "userId": sid,
                    "organization": org,
                    "group": subj.get("group") or "default",
                    "externalId": subj.get("externalId") or sid,
                }
                for k, v in (subj.get("attributes") or {}).items():
                    if k not in fixed:
                        row[k] = str(v)
                row.update(pattrs)
                attr_cols.update(k for k in row if k not in fixed)
                rows.append(row)
        cols = list(fixed) + sorted(attr_cols)
        # Portal DTO ids are numeric; every column is a string column.
        data = [
            tuple(None if (v := r.get(c)) is None else str(v) for c in cols)
            for r in rows
        ]
        from pyspark.sql.types import StringType, StructField, StructType

        from radar_output_restructure_spark.operators.driver_gate import local_frame

        schema = StructType([StructField(c, StringType()) for c in cols])
        return local_frame(spark, data, schema)


@dataclass
class MPPathPlugin:
    """Convenience wiring: properties -> client -> mp_dim, matching the
    reference plugin's property names (managementPortalUrl,
    managementPortalClientId, managementPortalClientSecret)."""

    properties: dict[str, str]
    transport: Callable[..., bytes] | None = None
    client: MPClient = field(init=False)

    def __post_init__(self) -> None:
        url = self.properties.get("managementPortalUrl")
        if not url:
            raise ValueError("Missing managementPortalUrl configuration")
        self.client = MPClient(
            url,
            client_id=self.properties.get("managementPortalClientId"),
            client_secret=self.properties.get("managementPortalClientSecret"),
            transport=self.transport,
        )

    def mp_dim(self, spark):
        return self.client.mp_dim(spark)
