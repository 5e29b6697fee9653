"""In-process Elasticsearch ``_bulk`` stub on stdlib HTTP.

The engine's ES sink posts to it through its real ``_http_transport``
path. The stub acknowledges every item with 201, and records per doc
the index, ``_id``, the bytes the doc took in the request and the
moment the ack was sent. ``busy_share`` is the share of wall time the
stub spent handling requests, which shows whether it, and not the
engine, bounds the ingest rate.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

#: bulk actions followed by a source line
_WITH_SOURCE = ("index", "create", "update")


@dataclass(frozen=True)
class BulkItem:
    action: str
    index: str
    doc_id: str | None
    nbytes: int


def parse_bulk_body(body: bytes) -> list[BulkItem]:
    """Split an NDJSON ``_bulk`` body into items. An index/create/update
    action line is followed by its source line; a delete stands alone.
    ``nbytes`` counts both lines and their newlines."""
    lines = body.split(b"\n")
    items: list[BulkItem] = []
    i = 0
    while i < len(lines):
        line = lines[i]
        i += 1
        if not line.strip():
            continue
        action = json.loads(line)
        if len(action) != 1:
            raise ValueError(f"bulk action line needs one key: {line[:80]!r}")
        (act, meta), = action.items()
        nbytes = len(line) + 1
        if act in _WITH_SOURCE:
            if i >= len(lines) or not lines[i].strip():
                raise ValueError(f"{act} action without a source line")
            nbytes += len(lines[i]) + 1
            i += 1
        elif act != "delete":
            raise ValueError(f"unknown bulk action {act!r}")
        doc_id = meta.get("_id")
        items.append(BulkItem(act, meta.get("_index", ""),
                              None if doc_id is None else str(doc_id), nbytes))
    return items


class EsBulkStub:
    """A ``_bulk`` endpoint that acks everything and remembers it."""

    def __init__(self):
        self._lock = threading.Lock()
        #: (index, doc_id, ack perf_counter time, bytes) per acked item
        self.acks: list[tuple[str, str | None, float, int]] = []
        self.requests = 0
        self.busy_s = 0.0
        self._t0 = time.perf_counter()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_POST(self):  # noqa: N802 - http.server API
                t = time.perf_counter()
                n = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(n)
                if not self.path.rstrip("/").endswith("_bulk"):
                    self.send_response(404)
                    self.end_headers()
                    return
                items = parse_bulk_body(body)
                out = json.dumps({
                    "took": 1, "errors": False,
                    "items": [{it.action: {"_index": it.index, "_id": it.doc_id,
                                           "status": 201}} for it in items],
                }).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)
                done = time.perf_counter()
                with outer._lock:
                    outer.acks.extend(
                        (it.index, it.doc_id, done, it.nbytes) for it in items)
                    outer.requests += 1
                    outer.busy_s += done - t

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def busy_share(self) -> float:
        return self.busy_s / max(time.perf_counter() - self._t0, 1e-9)

    def __enter__(self) -> EsBulkStub:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
