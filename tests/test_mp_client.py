"""ManagementPortal REST dimension fetch (G5: path/MPPathFormatterPlugin.kt
:30-157): OAuth2 client-credentials, project/subject endpoints, 10-min TTL
caches with stale-serving retry, and the mp_dim frame feeding the
`${mp:...}` broadcast join."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from radar_output_restructure_spark.sources.mp_client import (
    MPClient,
    MPPathPlugin,
)

PROJECTS = [
    {
        "projectName": "radar-p1",
        "organization": {"id": "org-main"},
        "attributes": {"humanReadableName": "Project One"},
    },
    {"projectName": "radar-p2", "organization": None, "attributes": {}},
]
SUBJECTS = {
    "radar-p1": [
        {
            "login": "u1",
            "externalId": "ext-1",
            "group": "g-a",
            "attributes": {"site": "london"},
        },
        {"login": "u2", "externalId": None, "group": None, "attributes": {}},
    ],
    "radar-p2": [{"login": "u3", "externalId": "ext-3", "group": "g-b"}],
}


class _FakeTransport:
    """Records calls; serves the canned MP API."""

    def __init__(self):
        self.calls: list[str] = []

    def __call__(self, url, headers, data=None):
        self.calls.append(url)
        if url.endswith("/oauth/token"):
            assert headers["Authorization"].startswith("Basic ")
            return json.dumps({"access_token": "tok-123"}).encode()
        assert headers["Authorization"] == "Bearer tok-123"
        if url.endswith("/api/projects"):
            return json.dumps(PROJECTS).encode()
        for pid, subs in SUBJECTS.items():
            if url.endswith(f"/api/projects/{pid}/subjects"):
                return json.dumps(subs).encode()
        raise AssertionError(f"unexpected url {url}")


def test_ttl_cache_and_stale_serving():
    clock = [0.0]
    t = _FakeTransport()
    c = MPClient(
        "http://mp.example",
        client_id="cid",
        client_secret="sec",
        transport=t,
        clock=lambda: clock[0],
    )
    assert len(c.projects()) == 2
    n = len(t.calls)
    assert c.projects() is c.projects()  # cached: no new fetches
    assert len(t.calls) == n
    clock[0] = 601.0  # past refresh TTL -> refetches
    c.projects()
    assert len(t.calls) > n

    # failure after expiry serves the stale value, retries only after 10 s
    def boom(url, headers, data=None):
        raise OSError("down")

    c._transport = boom
    clock[0] = 1300.0
    assert len(c.projects()) == 2  # stale served
    c._transport = t
    clock[0] = 1305.0  # within retry window: still stale, no fetch
    n = len(t.calls)
    c.projects()
    assert len(t.calls) == n
    clock[0] = 1311.0  # retry window passed: refetch
    c.projects()
    assert len(t.calls) > n


def test_mp_dim_semantics(spark):
    c = MPClient(
        "http://mp.example", client_id="cid", client_secret="sec",
        transport=_FakeTransport(),
    )
    dim = {(r.projectId, r.userId): r for r in c.mp_dim(spark).collect()}
    r = dim[("radar-p1", "u1")]
    assert r.organization == "org-main"
    assert r.group == "g-a"
    assert r.externalId == "ext-1"
    assert r.site == "london"
    assert r["project:humanReadableName"] == "Project One"
    # reference defaults: org unknown, group default, externalId -> login
    r2 = dim[("radar-p1", "u2")]
    assert r2.group == "default" and r2.externalId == "u2"
    assert dim[("radar-p2", "u3")].organization == "unknown-organization"


def test_mp_dim_numeric_portal_ids_become_strings(spark):
    """ManagementPortal DTO ids are numbers: a numeric organization id and a
    subject with no login (userId and externalId fall back to its numeric
    id) still give string columns."""

    def transport(url, headers, data=None):
        if url.endswith("/oauth/token"):
            return json.dumps({"access_token": "tok"}).encode()
        if url.endswith("/api/projects"):
            return json.dumps(
                [{"projectName": "radar-p9", "organization": {"id": 42}}]
            ).encode()
        return json.dumps([{"id": 7, "group": "g", "attributes": {"n": 3}}]).encode()

    c = MPClient(
        "http://mp.example", client_id="cid", client_secret="sec",
        transport=transport,
    )
    (r,) = c.mp_dim(spark).collect()
    assert r.asDict() == {
        "projectId": "radar-p9",
        "userId": "7",
        "organization": "42",
        "group": "g",
        "externalId": "7",
        "n": "3",
    }


def test_mp_dim_feeds_path_format(spark):
    from pyspark.sql import Row, functions as F

    from radar_output_restructure_spark.plans.path_format import PathFormat

    c = MPClient(
        "http://mp.example", client_id="cid", client_secret="sec",
        transport=_FakeTransport(),
    )
    df = spark.createDataFrame(
        [
            Row(
                key=Row(projectId="radar-p1", userId="u1", sourceId="s"),
                topic="t",
            ),
            Row(
                key=Row(projectId="radar-p2", userId="u3", sourceId="s"),
                topic="t",
            ),
        ]
    )
    pf = PathFormat(
        fmt="${mp:organization}/${mp:group}/${topic}/${filename}",
        mp_dim=c.mp_dim(spark),
    )
    out = pf.apply(df, F.lit(3600.0).cast("timestamp")).select(
        "key.userId", "output_path"
    )
    paths = {r.userId: r.output_path for r in out.collect()}
    assert paths["u1"].startswith("org-main/g-a/t/")
    assert paths["u3"].startswith("unknown-organization/g-b/t/")


class _Handler(BaseHTTPRequestHandler):
    def _send(self, obj):
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        assert self.path == "/oauth/token"
        self._send({"access_token": "tok-live"})

    def do_GET(self):
        if self.path == "/api/projects":
            self._send(PROJECTS)
        else:
            pid = self.path.split("/")[-2]
            self._send(SUBJECTS.get(pid, []))

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture
def mp_server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_http_roundtrip(spark, mp_server):
    """Default urllib transport against a real (stub) HTTP server, through
    the reference plugin's property names."""
    plugin = MPPathPlugin(
        {
            "managementPortalUrl": mp_server + "/",
            "managementPortalClientId": "cid",
            "managementPortalClientSecret": "sec",
        }
    )
    dim = plugin.mp_dim(spark)
    rows = {(r.projectId, r.userId) for r in dim.collect()}
    assert ("radar-p1", "u1") in rows and ("radar-p2", "u3") in rows


def test_restructure_pipeline_with_mp_properties(spark, tmp_path, mp_server):
    """End-to-end G5: RestructureConfig.mp_properties drives the REST fetch
    and `${mp:...}` segments route output files — no manual dim table."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.plans.restructure import (
        RestructureConfig,
        RestructurePlan,
    )
    from tests.test_restructure_e2e import (
        SERVER_STATUS_SCHEMA,
        _write_fixture,
    )

    rows = [
        Row(
            key=Row(projectId="radar-p1", userId="u1", sourceId="s"),
            value=Row(time=3600.0 + i, serverStatus="CONNECTED", ipAddress=None),
        )
        for i in range(3)
    ]
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", rows, 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        path_format="${mp:organization}/${mp:group}/${userId}/${topic}/${filename}",
        mp_properties={
            "managementPortalUrl": mp_server,
            "managementPortalClientId": "cid",
            "managementPortalClientSecret": "sec",
        },
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert len(finals) == 1
    rel = finals[0].replace(output_dir + "/", "")
    assert rel.startswith("org-main/g-a/u1/t/")
    # MP values route files; they must NOT leak into record content
    header = open(finals[0]).readline().strip()
    assert "mp_" not in header
    assert header.startswith("key.projectId,key.userId")


def test_token_lifetime_caps_cache_window():
    """A token whose expires_in is SHORTER than the 10-min cache window
    must be refreshed at its own lifetime — serving a dead token for the
    remainder of the window 401s every call."""
    clock = [0.0]
    calls = []

    def transport(url, headers, data=None):
        calls.append(url)
        if url.endswith("/oauth/token"):
            return json.dumps(
                {"access_token": f"tok-{len(calls)}", "expires_in": 300}
            ).encode()
        return json.dumps([]).encode()

    c = MPClient(
        "http://mp.example",
        client_id="cid",
        client_secret="sec",
        transport=transport,
        clock=lambda: clock[0],
    )
    t1 = c._token()
    assert c._token() == t1  # cached while alive
    clock[0] = 280.0  # past 0.9 * 300 = 270 s, well under the 600 s window
    t2 = c._token()
    assert t2 != t1  # refreshed at the token's own lifetime


def test_401_invalidates_token_and_retries_once():
    """An expired/revoked token must not poison every call until the cache
    window lapses: a 401 drops the cached token and retries once fresh."""
    state = {"valid": "tok-1", "minted": 0}

    def transport(url, headers, data=None):
        if url.endswith("/oauth/token"):
            state["minted"] += 1
            state["valid"] = f"tok-{state['minted']}"
            return json.dumps({"access_token": state["valid"]}).encode()
        if headers["Authorization"] != f"Bearer {state['valid']}":
            raise IOError("HTTP 401 Unauthorized")
        return json.dumps([{"projectName": "p", "attributes": {}}]).encode()

    c = MPClient(
        "http://mp.example",
        client_id="cid",
        client_secret="sec",
        transport=transport,
    )
    assert len(c.projects()) == 1
    state["valid"] = "revoked-out-of-band"  # server-side revocation
    c._projects.fresh_until = 0.0  # force a refetch with the stale token
    assert len(c.projects()) == 1  # 401 -> token dropped -> retried fresh
    assert state["minted"] == 2
