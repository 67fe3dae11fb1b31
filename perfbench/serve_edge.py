"""``serve_edge``: ``serve.make_server`` under an open-loop request mix.

The server runs in this process on the package's own session; requests
come from :mod:`perfbench.loadgen`, a separate single process with at
most ``connections`` requests in flight, each timed from its due time.

A run has three parts:

1. the cold pass — every cacheable URL once, over ``connections``
   concurrent connections, on an empty cache, then once more with
   ``refresh=true``: it warms the server, and as there are more URLs
   than ``CACHE_MAX``, the LRU is full and has already evicted when the
   open loop starts;
2. the open-loop phases of the seeded schedule, one per rate of the
   ladder (base first, peak last);
3. the refresh pass — every cacheable URL once with ``refresh=true``,
   serially, so each one recomputes; its wall time is the run's
   ``wall_s`` and its bodies are the serial reference. Each URL has run
   twice before it, because the passes still speed up as the JVM warms:
   at local[4] on a 4-vCPU VM, over four seeds, a serial pass after one
   execution of each URL took 9.7-14.8 s, after two 8.1-11.2 s.

Every 200 body of the cold pass and the open loop must equal the
reference, and every malformed request must get its 4xx.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import OrderedDict

from perfbench import gen
from perfbench.common import Tracer, group_counts, median, pct
from perfbench.loadgen import fetch, run as load


class _CountingLRU(OrderedDict):
    """The server's result cache, counting LRU evictions (the cache
    evicts with ``popitem(last=False)``)."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.evicted: list[str] = []

    def popitem(self, last: bool = True):
        item = super().popitem(last)
        if not last:
            self.evicted.append(item[0])
        return item


class ServeEdge:
    name = "serve_edge"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "tables")
        self.spark = None
        self.server = None
        self.thread = None
        self.handled: list[dict] = []
        self.phase = "-"
        self.tracing = False

    # -- inputs ------------------------------------------------------------
    def generate(self, seconds: float) -> None:
        c = self.cfg
        gen.write_tables(self.seed, self.sf_dir, c["tables"])
        self.good, self.bad = gen.url_universe(c["mix"])
        self.phases = [(f"rate{r:g}", float(r), seconds * c["phase_share"]) for r in c["ladder_rps"]]
        self.schedule = gen.request_schedule(self.seed, c["mix"], self.phases)
        for i, req in enumerate(self.schedule):
            req["url"] += ("&" if "?" in req["url"] else "?") + f"rid={i}"

    # -- set-up ------------------------------------------------------------
    def setup_round(self, spark, k: int) -> None:
        """Server start: make_server, serve in a thread, first /health."""
        from etl_weather_spark.serve import make_server

        self.spark = spark
        self.server = make_server(spark, self.sf_dir, port=0)
        self.thread = threading.Thread(target=self.server.serve_forever, kwargs={"poll_interval": 0.05})
        self.thread.start()
        status, _ = fetch("127.0.0.1", self.port, "/health")
        if status != 200:
            raise RuntimeError(f"/health returned {status}")

    def teardown_round(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    @property
    def port(self) -> int:
        return self.server.server_address[1]

    # -- tracing -----------------------------------------------------------
    def count_evictions(self) -> None:
        """Swap the server's result cache for one that counts evictions."""
        api = self.server.api
        api._cache = self.cache = _CountingLRU(api._cache)

    def trace_handle(self) -> None:
        """Wrap the server's ``api.handle`` instance method: per call,
        its duration and a job group on the handler thread."""
        api = self.server.api
        orig = api.handle
        sc = self.spark.sparkContext

        def handle(path, params):
            if not self.tracing:
                return orig(path, params)
            rid = params.get("rid", ["-"])[0]
            group = f"{self.name}:{self.phase}:{rid}:handle"
            sc.setJobGroup(group, path)
            t0 = time.perf_counter()
            try:
                return orig(path, params)
            finally:
                self.handled.append({"rid": rid, "phase": self.phase, "group": group,
                                     "ms": (time.perf_counter() - t0) * 1e3})

        api.handle = handle

    # -- cold and serial passes --------------------------------------------
    def cold_pass(self) -> list[dict]:
        """Every cacheable URL twice, concurrently: as it is, then with
        ``refresh=true``. Returns [{url: (status, digest)}] per round."""
        out = []
        for name, extra in (("cold", ""), ("warm", "&refresh=true")):
            sched = [{"t": 0.0, "url": f"{u}{'&' if '?' in u else '?'}rid={name}-{i}{extra}"}
                     for i, u in enumerate(self.good)]
            res = load(sched, f"http://127.0.0.1:{self.port}", self.cfg["connections"])
            out.append({u: (r["status"], r["digest"]) for u, r in zip(self.good, res)})
        return out

    def serial_pass(self, tr: Tracer, pass_id, refresh: bool) -> tuple[dict, dict]:
        out = {}
        tr.new_trace()
        with tr.span("pass", pass_id) as sp:
            for i, url in enumerate(self.good):
                u = url + ("&" if "?" in url else "?") + f"rid={pass_id}-{i}"
                if refresh:
                    u += "&refresh=true"
                with tr.span("serve.request", pass_id, f"url{i}", "get"):
                    out[url] = fetch("127.0.0.1", self.port, u)
        return sp, out

    # -- open loop ---------------------------------------------------------
    def open_loop(self, tr: Tracer) -> list[dict]:
        """Run the whole schedule through the generator process; returns
        the schedule entries with their results attached."""
        sched = os.path.join(self.work, "schedule.json")
        res_path = os.path.join(self.work, "loadgen.json")
        gen.dump(self.schedule, sched)
        self.phase = "open"
        tr.new_trace()
        with tr.span("openloop", "open"):
            proc = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
                 sched, f"http://127.0.0.1:{self.port}", str(self.cfg["connections"]), res_path],
            )
            try:
                proc.wait(timeout=150)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(res_path, encoding="utf-8") as f:
            res = json.load(f)
        return [{**req, **r} for req, r in zip(self.schedule, res)]

    # -- checks and statistics ---------------------------------------------
    def check_bodies(self, ref: dict, got: dict) -> list[str]:
        errs = []
        for url, (status, digest) in got.items():
            if status != 200 or (ref is not None and digest != ref[url][1]):
                errs.append(f"{url}: status {status}, body differs from the reference")
        return errs

    def check_open(self, ref: dict, reqs: list[dict]) -> tuple[dict, list[str]]:
        failed, wrong = {}, []
        for r in reqs:
            if r["status"] == -1:
                failed[r["url"]] = r["digest"]
            elif r["status"] != r["expect"]:
                wrong.append(f"{r['url']}: status {r['status']}, want {r['expect']}")
            elif r["expect"] == 200:
                if r["digest"] != ref[r["ref"]][1]:
                    wrong.append(f"{r['url']}: body differs from the reference")
        return failed, wrong

    def phase_stats(self, reqs: list[dict]) -> dict:
        """Per phase: latency from due time, generator lateness, backlog."""
        out = {}
        limit = self.cfg["p99_limit_ms"]
        t_end = 0.0
        for name, rate, secs in self.phases:
            t_end += secs
            rs = [r for r in reqs if r["phase"] == name]
            lat = [(r["done"] - r["due"]) * 1e3 for r in rs]
            late = [(r["sent"] - r["due"]) * 1e3 for r in rs]
            backlog = sum(1 for r in rs if r["sent"] > t_end)
            p99 = pct(lat, 99)
            out[name] = {"rate": rate, "n": len(rs), "p50_ms": median(lat), "p99_ms": p99,
                         "late_p99_ms": pct(late, 99), "backlog": backlog,
                         "ok": p99 <= limit and backlog == 0}
        return out

    def _counts(self) -> list[dict]:
        """Every traced handle call with its job, stage and task counts."""
        out = []
        for h in self.handled:
            jobs, stages, tasks = group_counts(self.spark, h["group"])
            out.append({**h, "jobs": jobs, "stages": stages, "tasks": tasks})
        return out

    def phase_counts(self, phase: str) -> tuple[int, int, int]:
        rows = [h for h in self._counts() if h["phase"] == phase]
        return (sum(h["jobs"] for h in rows), sum(h["stages"] for h in rows),
                sum(h["tasks"] for h in rows))

    def handle_stats(self, reqs: list[dict]) -> dict:
        """Traced runs: hit and miss latencies, split by whether the
        request ran a Spark job, and the handler's share of each request."""
        by_rid = {h["rid"]: h for h in self._counts() if h["phase"] == "open"}
        hits, misses, http_ms, handle_ms = [], [], [], []
        jobs = tasks = 0
        for i, r in enumerate(reqs):
            h = by_rid.get(str(i))
            if h is None or r["expect"] != 200:
                continue
            handle_ms.append(h["ms"])
            http_ms.append((r["done"] - r["sent"]) * 1e3 - h["ms"])
            if h["jobs"] == 0:
                hits.append((r["done"] - r["due"]) * 1e3)
            else:
                misses.append((r["done"] - r["due"]) * 1e3)
                jobs += h["jobs"]
                tasks += h["tasks"]
        n = len(hits) + len(misses)
        return {
            "handle_p50_ms": median(handle_ms), "handle_p99_ms": pct(handle_ms, 99),
            "http_ms": median(http_ms), "hit_p50_ms": median(hits),
            "miss_p50_ms": median(misses), "miss_p99_ms": pct(misses, 99),
            "miss_ratio": len(misses) / n if n else 0.0,
            "jobs_per_miss": jobs / len(misses) if misses else 0.0,
            "tasks_per_miss": tasks / len(misses) if misses else 0.0,
        }
