"""Benchmark of the weather pipeline, the curation queries and the serving edge.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (parameters and the reasons for them are in
``perfbench/config.json``):

- ``weather_batch``  — the ``all`` pipeline over many generated cities;
- ``curation_heavy`` — a fixed pass over construction-bound registry
  queries;
- ``serve_edge``     — ``serve.make_server`` under an open-loop mix.

A run generates its inputs from ``--seed``, sets up twice (each round
starts a new driver JVM and session, registers the workload's inputs
and, for ``serve_edge``, starts the server), runs one untimed cold pass
(the warm-up), then measures for ``--seconds``. Every operation's
output is checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` passes alternate
between untraced and traced, and the metrics are the per-layer ones,
read from the traced passes. Metric names and units are read from
``BENCHMARK.json`` at the checkout's root. Spans are written to
``perfbench/_out/<workload>-<seed>.spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import (  # noqa: E402
    Tracer,
    coverage_problems,
    median,
    ncpus,
    prepare_env,
    rss_mb,
    start_spark,
    stop_jvm,
)

# Set-up rounds per run, each with a new JVM; setup_s is their median.
# A round costs 5-9 s at local[4], so two is what the run budget allows.
SETUP_ROUNDS = 2


class Run:
    """One benchmark run: owns the session, the workload and the tallies."""

    def __init__(self, workload, cfg: dict, args) -> None:
        self.w = workload
        self.cfg = cfg
        self.args = args
        self.spark = None
        self.attempted = 0
        self.failed: dict[str, str] = {}
        self.wrong: list[str] = []
        # failed validity checks of the benchmark itself (not operations)
        self.invalid: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}

    def tally(self, attempted: int, failed: dict, wrong: list[str]) -> None:
        self.attempted += attempted
        self.failed.update(failed)
        self.wrong += wrong

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Cold set-up rounds: JVM start and session, then the workload's
        own set-up; every round but the last ends by stopping its JVM."""
        rounds = []
        for k in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.spark = start_spark(self.w.work)
            t1 = time.perf_counter()
            self.w.setup_round(self.spark, k)
            t2 = time.perf_counter()
            rounds.append((t1 - t0, t2 - t1))
            if k < SETUP_ROUNDS - 1:
                self.w.teardown_round()
                self.spark.stop()
                stop_jvm()
        self.setup_rounds = rounds
        self.e2e["setup_s"] = median([a + b for a, b in rounds])
        self.layer["session.start_s"] = median([a for a, _b in rounds])
        self.layer["session.warmup_s"] = median([b for _a, b in rounds])

    def finish_memory(self) -> None:
        jvm, py = rss_mb(self.spark)
        self.layer["session.jvm_rss_mb"] = jvm
        self.layer["session.py_rss_mb"] = py
        self.layer["peak_rss_mb"] = jvm + py

    # -- pass-based workloads ----------------------------------------------
    def passes(self) -> None:
        """Cold pass, then as many passes as fit in ``--seconds`` (at
        least two). With tracing, one more untimed pass comes first, so
        that the first pass after the cold one, which runs slower, is
        neither of the passes ``trace.overhead_frac`` compares; then at
        least one untraced and one traced pass, alternating."""
        w, spark = self.w, self.spark
        plain = Tracer(spark, w.name, False)
        traced = Tracer(spark, w.name, True)
        sp, out = w.run_pass(plain, 1)
        self.pass1_s = plain.work_s(sp)
        self.tally(*w.check(out))
        w.drop_pass(out)
        k = 2
        if self.args.trace:
            _sp, out = w.run_pass(plain, k)
            self.tally(*w.check(out))
            w.drop_pass(out)
            k += 1
        walls = {False: [], True: []}
        self.traced_passes = []
        t_start = time.perf_counter()
        k0 = k
        while True:
            use_trace = bool(self.args.trace) and k % 2 == 0
            tr = traced if use_trace else plain
            sp, out = w.run_pass(tr, k)
            walls[use_trace].append(tr.work_s(sp))
            self.tally(*w.check(out))
            if use_trace:
                self.traced_passes.append((sp, w.traced_extras(tr, out, k)))
            w.drop_pass(out)
            k += 1
            # stop before a pass that would end past --seconds, once every
            # kind of pass this run needs has been measured
            elapsed = time.perf_counter() - t_start
            enough = (len(walls[True]) >= 1 and len(walls[False]) >= 1 if self.args.trace
                      else len(walls[False]) >= 2)
            if enough and elapsed + elapsed / (k - k0) > self.args.seconds:
                break
        self.walls = walls
        self.e2e["wall_s"] = median(walls[False])
        self.tracer = traced if self.args.trace else plain

    def pass_layer_metrics(self) -> None:
        tr = self.tracer
        tr.finish_counts()
        L = self.layer
        covs, untagged, jobs, stages, tasks = [], [], [], [], []
        agg: dict[str, list[float]] = {}

        def add(name, v):
            agg.setdefault(name, []).append(v)

        for sp, extra in self.traced_passes:
            covs.append(tr.coverage(sp))
            untagged.append(tr.untagged_jobs(sp))
            self.invalid += coverage_problems(tr, sp)
            j, st, t = tr.totals([sp])
            jobs.append(j)
            stages.append(st)
            tasks.append(t)
            self.w.layer_metrics(tr, sp, extra, add)
        for name, vals in agg.items():
            L[name] = median(vals)
        L.update(self.w.run_metrics(self.pass1_s))
        L["spark.jobs"] = median(jobs)
        L["spark.stages"] = median(stages)
        L["spark.tasks"] = median(tasks)
        L["trace.coverage"] = min(covs)
        L["trace.untagged_jobs"] = max(untagged)
        L["trace.overhead_frac"] = median(self.walls[True]) / median(self.walls[False]) - 1.0

    # -- serving edge ------------------------------------------------------
    def serve(self) -> None:
        w = self.w
        plain = Tracer(self.spark, w.name, False)
        traced = Tracer(self.spark, w.name, True)
        w.phase = "cold"
        cold = w.cold_pass()
        w.count_evictions()
        if self.args.trace:
            w.trace_handle()
            w.tracing = True
        reqs = w.open_loop(traced if self.args.trace else plain)
        self.layer["serve.evictions"] = len(w.cache.evicted)
        walls, ref = {False: [], True: []}, None
        # with tracing, untraced-traced-untraced: passes still speed up as
        # the JVM warms, and the mean of the two untraced ones cancels that
        # in trace.overhead_frac
        modes = [False, True, False] if self.args.trace else [False]
        for use_trace in modes:
            w.phase = f"refresh{int(use_trace)}"
            w.tracing = use_trace
            tr = traced if use_trace else plain
            sp, got = w.serial_pass(tr, w.phase, refresh=True)
            walls[use_trace].append(tr.dur(sp))
            self.tally(len(got), {}, w.check_bodies(ref, got))
            # the first serial pass is the reference for every other body
            ref = ref or got
            if use_trace:
                refresh_span = sp
        for got in cold:
            self.tally(len(got), {}, w.check_bodies(ref, got))
        self.tally(len(reqs), *w.check_open(ref, reqs))
        stats = w.phase_stats(reqs)
        self.e2e["wall_s"] = walls[False][0]
        names = [p[0] for p in w.phases]
        base, peak = stats[names[0]], stats[names[-1]]
        ok_rates = [s["rate"] for s in stats.values() if s["ok"]]
        self.serve_stats = stats
        L = self.layer
        L["serve.p50_ms"] = base["p50_ms"]
        L["serve.p99_ms"] = base["p99_ms"]
        L["serve.p99_ms.peak"] = peak["p99_ms"]
        L["serve.max_rps"] = max(ok_rates, default=0.0)
        L["serve.gen_late_p99_ms"] = max(s["late_p99_ms"] for s in stats.values())
        L["serve.backlog"] = max(s["backlog"] for s in stats.values())
        if self.args.trace:
            L.update({f"serve.{k}": v for k, v in w.handle_stats(reqs).items()})
            per = w.phase_counts("refresh1")
            L["spark.jobs"], L["spark.stages"], L["spark.tasks"] = per
            traced.finish_counts()
            L["trace.coverage"] = traced.coverage(refresh_span)
            L["trace.untagged_jobs"] = traced.untagged_jobs(refresh_span)
            self.invalid += coverage_problems(traced, refresh_span)
            L["trace.overhead_frac"] = walls[True][0] / statistics.mean(walls[False]) - 1.0
        self.tracer = traced if self.args.trace else plain


def load_workload(name: str, cfg: dict, seed: int, work: str):
    if name == "weather_batch":
        from perfbench.weather_batch import WeatherBatch as W
    elif name == "curation_heavy":
        from perfbench.curation_heavy import CurationHeavy as W
    elif name == "serve_edge":
        from perfbench.serve_edge import ServeEdge as W
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return W(cfg, seed, work)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all' for the three in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds through the finally blocks that stop the JVM and the
    # load generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)

    # the program under test is the checkout's own package, built from source
    if not os.path.isfile(os.path.join(ROOT, "etl_weather_spark", "__init__.py")):
        print(f"perfbench: no etl_weather_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json"), encoding="utf-8") as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    from perfbench import selftest

    selftest.run_all()

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cfg["driver_memory"])
    w = load_workload(args.workload, {**cfg["workloads"][args.workload], "tables": cfg["tables"]},
                      args.seed, work)
    run = Run(w, cfg, args)
    try:
        w.generate(args.seconds)
        run.setup()
        if args.workload == "serve_edge":
            run.serve()
        else:
            run.passes()
            if args.trace:
                run.pass_layer_metrics()
        run.finish_memory()
        run.tracer.write(os.path.join(HERE, "_out", f"{args.workload}-{args.seed}.spans.json"))
    finally:
        w.teardown_round()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return report(run, bench, args)


def run_all(args) -> int:
    """Each workload in its own process; one combined result line."""
    import subprocess

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("weather_batch", "curation_heavy", "serve_edge"):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", f"{args.seconds:g}", "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return 0


def report(run: Run, bench: dict, args) -> int:
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = run.layer if args.trace else run.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    n_failed = len(run.failed) + len(run.wrong)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"master=local[{ncpus()}]")
    for n, m in metrics.items():
        print(f"#   {n:<40} {m['value']:>14.6g} {m['unit']}")
    named = {"setup_s": (run.e2e["setup_s"], "s"), "peak_rss_mb": (run.layer["peak_rss_mb"], "MB"),
             "error_rate": (n_failed / max(run.attempted, 1), f"ratio ({n_failed} failed of {run.attempted})")}
    if args.workload == "serve_edge":
        for n in ("serve_p50_ms", "serve_p99_ms", "serve_p99_ms.peak", "serve_max_rps"):
            named[n] = (run.layer[n.replace("serve_", "serve.", 1)], "1/s" if n.endswith("rps") else "ms")
        named["serve_refresh_pass_s"] = (run.e2e["wall_s"], "s")
        named["serve_evictions"] = (run.layer["serve.evictions"], "count (LRU evictions in the open loop)")
    else:
        named[{"weather_batch": "etl_wall_s", "curation_heavy": "curation_wall_s"}[args.workload]] = (
            run.e2e["wall_s"], "s")
    print(f"#   -- by workload{' (traced run: tracing overhead included)' if args.trace else ''}")
    for n, (v, unit) in named.items():
        print(f"#   {n:<40} {v:>14.6g} {unit}")
    print("#   set-up rounds (s): " + "; ".join(f"start {a:.3f} workload {b:.3f}" for a, b in run.setup_rounds))
    if args.workload != "serve_edge":
        print(f"#   pass walls (s): cold {run.pass1_s:.3f}; "
              + "; ".join(f"{'traced' if t else 'untraced'} " + " ".join(f"{x:.3f}" for x in v)
                          for t, v in run.walls.items() if v))
    if args.workload == "serve_edge":
        for name, s in run.serve_stats.items():
            print(f"#   phase {name}: n={s['n']} p50={s['p50_ms']:.1f}ms p99={s['p99_ms']:.1f}ms "
                  f"late_p99={s['late_p99_ms']:.1f}ms backlog={s['backlog']} meets_limit={s['ok']}")
    for k, why in sorted(run.failed.items()):
        print(f"#   failed: {k}: {why}")
    for why in run.wrong:
        print(f"#   WRONG: {why}")
    for why in run.invalid:
        print(f"#   INVALID TRACE: {why}")
    print(json.dumps({"correct": not run.wrong and not run.invalid, "attempted": run.attempted,
                      "failed": n_failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
