"""Load generators: closed-loop HTTP search clients and an open-loop
ingest writer. One process, threads only (at most nproc of them)."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote

TIMEOUT_S = 60.0
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def request(port: int, method: str, path: str, body: bytes | None = None,
            headers: dict | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def search_path(index: str, query: str, count_all: bool) -> str:
    p = f"/api/v1/{index}/search?query={quote(query)}&max_hits=10"
    return p if count_all else p + "&count_all=false"


class Server:
    """The launcher (perfbench/server.py) as a child process."""

    def __init__(self, root: str, index: str, uid: str, stats_path: str,
                 trace: bool = False):
        cmd = [sys.executable, "-m", "perfbench.server", "--root", root,
               "--index", index, "--uid", uid, "--stats", stats_path]
        if trace:
            cmd.append("--trace")
        self.stats_path = stats_path
        self.proc = subprocess.Popen(cmd, cwd=CHECKOUT,
                                     stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE)
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait(timeout=30)
            raise RuntimeError(f"server exited with {self.proc.returncode}")
        self.port = json.loads(line)["port"]

    def stop(self) -> dict:
        """Close stdin (the launcher's stop signal); return its stats."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            raise
        self.proc.stdout.close()
        with open(self.stats_path) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


@dataclass(slots=True)
class SearchResult:
    i: int
    query: str
    count_all: bool
    status: int             # HTTP status; negative: no or unparseable answer
    latency_s: float
    server_us: int | None   # the response's elapsed_time_micros
    body: dict | None       # kept only for responses sampled for checks
    traced: bool


def closed_loop(port: int, index: str, stream, clients: int,
                min_seconds: float, min_samples: int, max_seconds: float,
                start: int = 0, tag: str = "",
                keep_body=lambda i: False, traced=lambda i: False,
                stop: threading.Event | None = None
                ) -> tuple[list[SearchResult], float]:
    """`clients` threads each send the next request of `stream`, from
    index `start` on, as soon as their previous one completed. Runs until
    `min_seconds` passed and `min_samples` completed (or `stop` is set),
    but never past `max_seconds`. Request ids are `tag` + stream index.
    Returns the results in stream order and the wall."""
    lock = threading.Lock()
    nxt = [start]
    results: list[SearchResult] = []
    t0 = time.perf_counter()

    def done() -> bool:
        el = time.perf_counter() - t0
        if el >= max_seconds or nxt[0] >= len(stream):
            return True
        if stop is not None:
            return stop.is_set()
        return el >= min_seconds and len(results) >= min_samples

    def client():
        while True:
            with lock:
                if done():
                    return
                i = nxt[0]
                nxt[0] += 1
            query, count_all = stream[i]
            tr = traced(i)
            hdr = {"X-Perfbench-Request": f"{tag}{i}",
                   "X-Perfbench-Trace": "1" if tr else "0"}
            s = time.perf_counter()
            try:
                status, body = request(port, "GET",
                                       search_path(index, query, count_all),
                                       headers=hdr)
            except OSError:
                status, body = -1, b""
            lat = time.perf_counter() - s
            server_us = None
            doc = None
            if status == 200:
                try:
                    doc = json.loads(body)
                    server_us = doc["elapsed_time_micros"]
                except (ValueError, KeyError):
                    status = -2  # unparseable answer counts as failed
            r = SearchResult(i, query, count_all, status, lat, server_us,
                             doc if keep_body(i) else None, tr)
            with lock:
                results.append(r)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    results.sort(key=lambda r: r.i)
    return results, wall


@dataclass(slots=True)
class IngestResult:
    i: int
    due: float
    sent: float
    acked: float
    status: int
    docs: int               # num_docs_for_processing of the answer


def open_loop_ingest(port: int, index: str, batches: list[bytes],
                     interval_s: float, senders: int = 2, first: int = 0
                     ) -> tuple[list[IngestResult], float, float]:
    """Send batch i when it is due (t0 + i * interval_s), whatever the
    state of earlier batches, from a pool of `senders` threads. Latency
    counts from the due time, so a stall also delays later batches.
    Results are numbered from `first`. Returns them, the schedule start
    and the time the last ack came."""
    lock = threading.Lock()
    nxt = [0]
    results: list[IngestResult] = []
    t0 = time.perf_counter() + 0.05

    def sender():
        while True:
            with lock:
                if nxt[0] >= len(batches):
                    return
                i = nxt[0]
                nxt[0] += 1
            due = t0 + i * interval_s
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            try:
                status, body = request(
                    port, "POST", f"/api/v1/{index}/ingest",
                    body=batches[i],
                    headers={"Content-Type": "application/x-ndjson",
                             "X-Perfbench-Request": f"ingest-{first + i}",
                             "X-Perfbench-Trace": "1"})
                docs = (json.loads(body)["num_docs_for_processing"]
                        if status == 200 else 0)
            except (OSError, ValueError, KeyError):
                status, docs = -1, 0
            r = IngestResult(first + i, due, sent, time.perf_counter(),
                             status, docs)
            with lock:
                results.append(r)

    threads = [threading.Thread(target=sender) for _ in range(senders)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    results.sort(key=lambda r: r.i)
    end = max((r.acked for r in results), default=t0)
    return results, t0, end
