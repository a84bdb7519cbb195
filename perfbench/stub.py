"""Loopback Mixpanel ingestion stub with an exactly-once ledger.

Runs as its own process so its CPU and memory stay out of the measured
process tree:

    python3 perfbench/stub.py --max-conns 4 --seed 7

prints ``{"port": N}`` on its first stdout line and serves until its
stdin closes. Endpoints:

* ``POST /import``, ``POST /engage`` — ingestion. A JSON-array body
  (optionally gzipped) is parsed; on 200 every record's ``$insert_id``
  (events, merges) or ``$distinct_id`` (profiles) is added to the
  ledger. A batch whose body contains the fault marker fails its FIRST
  attempt with 429 or 503 (picked from a hash of seed and body), so the
  schedule is keyed by batch content, never by arrival order.
* ``POST /expect`` — ``{path: {id: count}}``: the multiset each path must
  receive. ``POST /reset`` clears the ledger (not the expectation).
* ``GET /ledger`` — per-path request, byte and retry counters plus the
  multiset comparison: ids missing, delivered more often than expected,
  or never expected.

At most ``--max-conns`` requests are handled at once; further
connections wait in the listen backlog.
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import json
import socketserver
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

FAULT_MARKER = b"faultprobe"
ID_KEYS = {"/import": ("properties", "$insert_id"), "/engage": (None, "$distinct_id")}


class Ledger:
    def __init__(self, seed: int):
        self.seed = seed
        self.lock = threading.Lock()
        self.expected: dict[str, Counter] = {}
        self.reset()

    def reset(self) -> None:
        """Start a new run: counters, received ids and fault history."""
        with self.lock:
            self.paths: dict[str, dict] = {}
            self.received: dict[str, Counter] = {}
            self.seen_faults: set[str] = set()

    def fault_status(self, body: bytes) -> int:
        """429/503 on the first attempt of a marked batch, else 0."""
        if FAULT_MARKER not in body:
            return 0
        key = hashlib.md5(str(self.seed).encode() + body).hexdigest()
        with self.lock:
            if key in self.seen_faults:
                return 0
            self.seen_faults.add(key)
        return 429 if int(key, 16) % 2 else 503

    def record(self, path: str, query: str, gz: bool, wire: int, raw: int,
               status: int, ids: list) -> None:
        with self.lock:
            p = self.paths.setdefault(path, {
                "requests": 0, "ok": 0, "rejected": 0, "gzip": 0, "strict": 0,
                "wire_bytes": 0, "raw_bytes": 0, "records": 0,
            })
            p["requests"] += 1
            p["gzip"] += gz
            p["strict"] += "strict=1" in query
            p["wire_bytes"] += wire
            p["raw_bytes"] += raw
            if status == 200:
                p["ok"] += 1
                p["records"] += len(ids)
                self.received.setdefault(path, Counter()).update(ids)
            else:
                p["rejected"] += 1

    def report(self) -> dict:
        with self.lock:
            out = {"paths": json.loads(json.dumps(self.paths))}
            check = {}
            for path in set(self.expected) | set(self.received):
                exp = self.expected.get(path, Counter())
                got = self.received.get(path, Counter())
                check[path] = {
                    "expected": sum(exp.values()),
                    "received": sum(got.values()),
                    "missing": sum((exp - got).values()),
                    "duplicated": sum(
                        got[k] - exp[k] for k in got if k in exp and got[k] > exp[k]
                    ),
                    "unexpected": sum(v for k, v in got.items() if k not in exp),
                }
            out["check"] = check
        return out


def record_ids(path: str, records: list) -> list:
    outer, key = ID_KEYS.get(path, (None, "$insert_id"))
    if outer:
        return [r.get(outer, {}).get(key) for r in records]
    return [r.get(key) for r in records]


def make_handler(ledger: Ledger):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep stderr quiet
            pass

        def _reply(self, status: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/ledger":
                self._reply(200, ledger.report())
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):
            wire = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            path, _, query = self.path.partition("?")
            if path == "/reset":
                ledger.reset()
                return self._reply(200, {})
            if path == "/expect":
                exp = json.loads(wire)
                with ledger.lock:
                    ledger.expected = {p: Counter(c) for p, c in exp.items()}
                return self._reply(200, {})
            gz = self.headers.get("Content-Encoding") == "gzip"
            try:
                raw = gzip.decompress(wire) if gz else wire
                records = json.loads(raw)
            except (OSError, ValueError) as e:
                ledger.record(path, query, gz, len(wire), 0, 400, [])
                return self._reply(400, {"error": repr(e)})
            status = ledger.fault_status(raw) or 200
            ids = record_ids(path, records) if status == 200 else []
            ledger.record(path, query, gz, len(wire), len(raw), status, ids)
            if status == 200:
                self._reply(200, {"code": 200, "num_records_imported": len(records)})
            else:
                self._reply(status, {"error": "injected", "status": status})

    return Handler


class BoundedServer(HTTPServer):
    """Handles each connection on a fixed pool of ``max_conns`` threads."""

    def __init__(self, addr, handler, max_conns: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=max_conns)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="loopback ingestion stub")
    ap.add_argument("--max-conns", type=int, required=True)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    socketserver.TCPServer.request_queue_size = 64
    server = BoundedServer(("127.0.0.1", 0), make_handler(Ledger(a.seed)), a.max_conns)
    thread = threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.1})
    thread.start()
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    try:
        sys.stdin.read()  # the parent closes our stdin to stop us
    finally:
        server.shutdown()
        thread.join()
        server.server_close()


if __name__ == "__main__":
    main()
