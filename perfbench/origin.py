"""Loopback HTTP origin for the ingest workload.

Serves a directory over real TCP on 127.0.0.1 (HEAD and GET, 404 for a
missing file) so the engine's ``UrllibHttpStore`` probes and downloads
exactly as it would against a remote archive. Requests are handled by a
fixed pool of at most ``nproc`` threads, and the origin counts requests
and bytes served.
"""

from __future__ import annotations

import functools
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import HTTPServer, SimpleHTTPRequestHandler


class _Handler(SimpleHTTPRequestHandler):
    def log_message(self, format, *args):  # noqa: A002 — stdlib signature
        pass

    def send_head(self):
        self.server.count_request()
        return super().send_head()

    def copyfile(self, source, outputfile):
        n = 0
        while chunk := source.read(64 * 1024):
            outputfile.write(chunk)
            n += len(chunk)
        self.server.count_bytes(n)


class _PooledServer(HTTPServer):
    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="origin")
        self._lock = threading.Lock()
        self.requests = 0
        self.bytes_served = 0

    def count_request(self) -> None:
        with self._lock:
            self.requests += 1

    def count_bytes(self, n: int) -> None:
        with self._lock:
            self.bytes_served += n

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad request must not stop the origin
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


class Origin:
    """``with Origin(root) as o: o.url('a/b.csv.gz')``"""

    def __init__(self, root: str) -> None:
        self.root = root
        # handler pool plus the accept thread stay within nproc threads
        threads = max(1, len(os.sched_getaffinity(0)) - 1)
        handler = functools.partial(_Handler, directory=root)
        self._server = _PooledServer(("127.0.0.1", 0), handler, threads)
        self._thread = threading.Thread(target=self._server.serve_forever, name="origin-accept", daemon=True)

    def url(self, rel: str) -> str:
        return f"http://127.0.0.1:{self._server.server_port}/{rel}"

    @property
    def requests(self) -> int:
        return self._server.requests

    @property
    def bytes_served(self) -> int:
        return self._server.bytes_served

    def __enter__(self) -> "Origin":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
