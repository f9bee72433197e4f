"""Minimal in-process Azure Blob REST emulator — the moto-server analog for
the native Azure backend's tests. Implements exactly the surface
`sinks/azure_storage.py` speaks: blob PUT/GET/HEAD/DELETE (with x-ms-range)
and container List Blobs (prefix, delimiter, marker pagination). Runs a
real HTTP server on a loopback port so pickled storage instances in
executor worker processes reach it too, like a real account."""

from __future__ import annotations

import email.utils
import hashlib
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from xml.sax.saxutils import escape

#: page size kept tiny so every listing test exercises marker pagination
LIST_PAGE = 3


class _Blob:
    __slots__ = ("data", "mtime")

    def __init__(self, data: bytes):
        self.data = data
        self.mtime = time.time()

    @property
    def etag(self) -> str:
        return f'"{hashlib.md5(self.data).hexdigest()}"'


class AzureBlobHandler(BaseHTTPRequestHandler):
    server_version = "AzuriteLite/0.1"

    def log_message(self, *args):  # quiet
        pass

    # -- helpers ------------------------------------------------------------

    def _split(self):
        u = urllib.parse.urlsplit(self.path)
        parts = u.path.lstrip("/").split("/", 1)
        container = parts[0]
        key = urllib.parse.unquote(parts[1]) if len(parts) > 1 else ""
        query = dict(urllib.parse.parse_qsl(u.query))
        return container, key, query

    def _store(self) -> dict[str, _Blob]:
        return self.server.containers.setdefault(self._split()[0], {})  # type: ignore[attr-defined]

    def _headers_for(self, blob: _Blob) -> list[tuple[str, str]]:
        # NOTE: no Content-Length here — _send/do_HEAD add exactly one for
        # the bytes actually sent (a ranged GET sends a slice)
        return [
            ("Last-Modified", email.utils.formatdate(blob.mtime, usegmt=True)),
            ("x-ms-blob-type", "BlockBlob"),
            ("ETag", blob.etag),
        ]

    def _send(self, status: int, headers=(), body: bytes = b""):
        self.send_response(status)
        for k, v in headers:
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # -- verbs --------------------------------------------------------------

    def do_PUT(self):
        _c, key, _q = self._split()
        length = int(self.headers.get("Content-Length", 0))
        data = self.rfile.read(length)
        if_none = self.headers.get("If-None-Match")
        if_match = self.headers.get("If-Match")
        # Conditional Put Blob (the locks.py contract): evaluate the
        # condition and store ATOMICALLY under the server mutation mutex —
        # ThreadingHTTPServer handles requests concurrently, and the whole
        # point of these conditions is store-arbitrated single winners.
        with self.server.mutex:  # type: ignore[attr-defined]
            store = self._store()
            cur = store.get(key)
            if if_none == "*" and cur is not None:
                self._send(409)  # BlobAlreadyExists
                return
            if if_match is not None and (cur is None or cur.etag != if_match):
                self._send(412)  # ConditionNotMet
                return
            store[key] = _Blob(data)
        self._send(201)

    def do_HEAD(self):
        _c, key, _q = self._split()
        blob = self._store().get(key)
        if blob is None:
            self._send(404)
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(blob.data)))
        for k, v in self._headers_for(blob):
            self.send_header(k, v)
        self.end_headers()

    def do_GET(self):
        container, key, query = self._split()
        if query.get("comp") == "list":
            self._send(200, body=self._list_xml(container, query))
            return
        blob = self._store().get(key)
        if blob is None:
            self._send(404)
            return
        data = blob.data
        rng = self.headers.get("x-ms-range") or self.headers.get("Range")
        status = 200
        if rng and rng.startswith("bytes="):
            lo, hi = rng[6:].split("-")
            data = data[int(lo): int(hi) + 1 if hi else len(data)]
            status = 206
        self._send(status, self._headers_for(blob), data)

    def do_DELETE(self):
        _c, key, _q = self._split()
        with self.server.mutex:  # type: ignore[attr-defined]
            gone = self._store().pop(key, None) is None
        self._send(404 if gone else 202)

    # -- List Blobs ---------------------------------------------------------

    def _list_xml(self, container: str, query: dict[str, str]) -> bytes:
        store = self.server.containers.get(container, {})  # type: ignore[attr-defined]
        prefix = query.get("prefix", "")
        delimiter = query.get("delimiter")
        marker = query.get("marker", "")
        names = sorted(n for n in store if n.startswith(prefix))

        blobs: list[str] = []
        prefixes: list[str] = []
        emitted = 0
        next_marker = ""
        seen_prefixes: set[str] = set()
        for name in names:
            if marker and name <= marker:
                continue
            if emitted >= LIST_PAGE:
                next_marker = last  # noqa: F821  (set in prior iteration)
                break
            rest = name[len(prefix):]
            if delimiter and delimiter in rest:
                p = prefix + rest.split(delimiter, 1)[0] + delimiter
                if p not in seen_prefixes:
                    seen_prefixes.add(p)
                    prefixes.append(f"<BlobPrefix><Name>{escape(p)}</Name></BlobPrefix>")
                    emitted += 1
                last = name
                continue
            blob = store[name]
            blobs.append(
                "<Blob><Name>{}</Name><Properties>"
                "<Last-Modified>{}</Last-Modified>"
                "<Content-Length>{}</Content-Length>"
                "</Properties></Blob>".format(
                    escape(name),
                    email.utils.formatdate(blob.mtime, usegmt=True),
                    len(blob.data),
                )
            )
            emitted += 1
            last = name
        xml = (
            '<?xml version="1.0" encoding="utf-8"?>'
            f'<EnumerationResults ContainerName="{escape(container)}">'
            f"<Blobs>{''.join(blobs)}{''.join(prefixes)}</Blobs>"
            f"<NextMarker>{escape(next_marker)}</NextMarker>"
            "</EnumerationResults>"
        )
        return xml.encode()


class AzureBlobEmulator:
    """`with AzureBlobEmulator() as endpoint:` — endpoint is the service
    URL to hand to AzureTargetStorage(endpoint_url=...)."""

    def __init__(self):
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), AzureBlobHandler)
        self.server.containers = {}  # type: ignore[attr-defined]
        self.server.mutex = threading.Lock()  # type: ignore[attr-defined]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> str:
        self.thread.start()
        host, port = self.server.server_address
        return f"http://{host}:{port}"

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
