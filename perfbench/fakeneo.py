"""In-process fake of the Neo4j transactional HTTP endpoint.

A stdlib ``ThreadingHTTPServer`` speaking the wire format of
``sources.transport.HttpTransport``. Write requests (``UNWIND``) are stored
as raw bodies and parsed only by :meth:`FakeNeo4j.written_rows`, after the
timed region. Read requests carry a ``% {n} = {i}`` split predicate and get
a response encoded before the timed region, so the server's own JSON work
stays out of the measurement.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_LABEL = re.compile(rb"MATCH \(n:([A-Za-z_][A-Za-z0-9_]*)\)")
_SPLIT = re.compile(rb"% (\d+) = (\d+)")
_OK_EMPTY = b'{"results": [], "errors": []}'


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def do_POST(self):
        t0 = time.perf_counter()
        srv: FakeNeo4j = self.server.fake
        body = self.rfile.read(int(self.headers["Content-Length"]))
        with srv.lock:
            srv.requests += 1
            n = srv.requests
        if srv.fail_armed and n in srv.fail_requests:
            self._respond(500, b"{}")
        elif b'"statement": "UNWIND' in body[:64]:
            with srv.lock:
                srv.bodies.append(body)
            self._respond(200, _OK_EMPTY)
        else:
            label, split = _LABEL.search(body), _SPLIT.search(body)
            key = (label.group(1).decode(), int(split.group(1)), int(split.group(2)))
            with srv.lock:
                srv.reads += 1
            self._respond(200, srv.responses[key])
        t1 = time.perf_counter()
        with srv.lock:
            srv.bytes_in += len(body)
            srv.busy_s += t1 - t0
        if srv.on_request is not None:
            srv.on_request(t0, t1)

    def _respond(self, status: int, payload: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)
        with self.server.fake.lock:
            self.server.fake.bytes_out += len(payload)


class FakeNeo4j:
    """The server plus its counters. While ``fail_armed`` is set, the
    requests whose 1-based number since the last :meth:`reset` is in
    ``fail_requests`` are answered with HTTP 500."""

    def __init__(self, fail_requests=()):
        self.lock = threading.Lock()
        self.responses: dict[tuple[str, int, int], bytes] = {}
        self.fail_requests = set(fail_requests)
        self.fail_armed = False
        self.on_request = None
        self.reset()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.daemon_threads = True
        self._httpd.fake = self
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def uri(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_address[1]}/db/data/"

    def reset(self) -> None:
        with self.lock:
            self.bodies: list[bytes] = []
            self.requests = self.reads = self.bytes_in = self.bytes_out = 0
            self.busy_s = 0.0

    def serve_splits(self, label: str, columns: list[str], rows: list[tuple], n: int) -> None:
        """Encode the read responses for ``label``: row ``j`` belongs to
        split ``j % n`` (the ``id(n) % {n} = {i}`` predicate)."""
        for i in range(n):
            doc = {
                "results": [{"columns": columns, "data": [{"row": list(r)} for r in rows[i::n]]}],
                "errors": [],
            }
            self.responses[(label, n, i)] = json.dumps(doc).encode()

    def written_rows(self, label: str) -> list[dict]:
        """Every row written to ``label``, parsed from the stored bodies."""
        out = []
        marker = f"CREATE (n:{label} ".encode()
        for body in self.bodies:
            if marker in body:
                (stmt,) = json.loads(body)["statements"]
                (rows,) = stmt["parameters"].values()
                out.extend(rows)
        return out

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()
