"""Open-loop HTTP load generator, run as its own process.

    python3 perfbench/loadgen.py <schedule.json> <base_url> <connections> <out.json>

Sends every request of the schedule at its due time, with at most
``connections`` requests in flight; a request that finds every
connection busy waits, so its latency — measured from its due time —
includes that wait. Records, per request: due, sent and done times
(seconds after the schedule start), status, and the sha256 of the
canonical body (see :func:`canonical`).
"""

from __future__ import annotations

import hashlib
import http.client
import json
import sys
import threading
import time
from urllib.parse import urlsplit


def canonical(body: bytes, content_type: str) -> str:
    """Body text with JSON row lists sorted, so unordered query results
    compare equal; HTML is compared byte for byte."""
    if not content_type.startswith("application/json"):
        return body.decode("utf-8", "replace")

    def norm(v):
        if isinstance(v, list) and all(isinstance(x, dict) for x in v):
            return sorted((norm(x) for x in v), key=lambda x: json.dumps(x, sort_keys=True))
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    return json.dumps(norm(json.loads(body)), sort_keys=True)


def fetch(conn_host: str, port: int, url: str, timeout: float = 60.0) -> tuple[int, str]:
    """One GET; returns (status, sha256 of the canonical body)."""
    c = http.client.HTTPConnection(conn_host, port, timeout=timeout)
    try:
        c.request("GET", url)
        r = c.getresponse()
        body = r.read()
        ctype = r.getheader("Content-Type", "")
    finally:
        c.close()
    return r.status, hashlib.sha256(canonical(body, ctype).encode()).hexdigest()


def run(schedule: list[dict], base_url: str, connections: int) -> list[dict]:
    u = urlsplit(base_url)
    out = [None] * len(schedule)
    nxt = [0]
    lock = threading.Lock()
    t0 = time.perf_counter() + 0.2

    def worker() -> None:
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(schedule):
                return
            req = schedule[i]
            delay = t0 + req["t"] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter() - t0
            try:
                status, digest = fetch(u.hostname, u.port, req["url"])
            except OSError as ex:
                status, digest = -1, f"{type(ex).__name__}: {ex}"
            out[i] = {"due": req["t"], "sent": sent, "done": time.perf_counter() - t0,
                      "status": status, "digest": digest}

    threads = [threading.Thread(target=worker) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def main(argv: list[str]) -> int:
    sched_path, base_url, conns, out_path = argv
    with open(sched_path, encoding="utf-8") as f:
        schedule = json.load(f)
    res = run(schedule, base_url, int(conns))
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
