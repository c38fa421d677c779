"""In-process ClickHouse HTTP stub for the import workloads.

Accepts the catalog DDL and the ``INSERT ... FORMAT JSONEachRow``
POSTs that ``load_clickhouse`` sends, validates every INSERT, and
counts what it received. Nothing is stored: only counters.
"""

from __future__ import annotations

import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from clickhouse_only_importer_prototype_spark.schemas import ALL_TABLES

_INSERT = re.compile(
    r"^INSERT INTO `(?P<table>[^`]+)` \((?P<cols>`[^`]+`(?:, `[^`]+`)*)\)"
    r" FORMAT JSONEachRow$"
)


class Counters:
    """What the stub received; guarded by ``lock``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.posts = 0
        self.ddl = 0
        self.rows = 0
        self.body_bytes = 0
        self.busy_s = 0.0
        self.errors: list[str] = []

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "posts": self.posts,
                "ddl": self.ddl,
                "rows": self.rows,
                "body_bytes": self.body_bytes,
                "busy_s": self.busy_s,
                "errors": list(self.errors),
            }


def _handler(counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args) -> None:  # silence per-request lines
            pass

        def _reply(self, code: int, text: str) -> None:
            body = text.encode()
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:
            t0 = time.perf_counter()
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            query = parse_qs(urlsplit(self.path).query).get("query", [""])[0]
            error = None
            rows = 0
            if not query:
                if not body.lstrip().upper().startswith(b"CREATE TABLE"):
                    error = f"unexpected statement: {body[:80]!r}"
            else:
                m = _INSERT.match(query)
                if m is None:
                    error = f"malformed INSERT: {query[:120]!r}"
                elif m["table"] not in ALL_TABLES:
                    error = f"INSERT into non-catalog table {m['table']!r}"
                else:
                    rows = body.count(b"\n")
                    if body and not body.endswith(b"\n"):
                        rows += 1
            busy = time.perf_counter() - t0
            with counters.lock:
                counters.busy_s += busy
                if error is not None:
                    counters.errors.append(error)
                elif not query:
                    counters.ddl += 1
                else:
                    counters.posts += 1
                    counters.rows += rows
                    counters.body_bytes += len(body)
            if error is not None:
                self._reply(400, error)
            else:
                self._reply(200, "")

    return Handler


class ClickHouseStub:
    """``ThreadingHTTPServer`` on 127.0.0.1:0 served from a daemon thread."""

    def __init__(self) -> None:
        self.counters = Counters()
        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), _handler(self.counters))
        self._srv.daemon_threads = True
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self._srv.server_address[:2]
        return f"http://{host}:{port}"

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)
