"""Shared pieces: Spark start-up, spans, Spark job counts, memory, stats."""

from __future__ import annotations

import gc
import json
import math
import os
import resource
import statistics
import time
from contextlib import contextmanager


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, driver_mem: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``.
    Must run before the first JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (Spark's launcher and its driver): no hsperfdata files in
    # the system temp directory, and temporary files under ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts-setup")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str):
    """The package's own session factory at ``local[nproc]``."""
    from etl_weather_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session, then end the driver JVM and wait for it: the JVM
    exits when its stdin closes, which otherwise happens only after this
    process has gone."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rss_mb(spark) -> tuple[float, float]:
    """(peak RSS of the driver JVM, peak RSS of this Python process) in MB."""
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return _vm_hwm_kb(jvm_pid) / 1024.0, py_kb / 1024.0


# ---------------------------------------------------------------------------
# engine state probes (used between operations, outside timed spans)
# ---------------------------------------------------------------------------

def cached_entries(spark) -> int:
    """Entries in the session's CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


def pinned_after_gc(spark) -> int:
    """Persisted RDDs still registered after a JVM and a Python GC."""
    gc.collect()
    spark._jvm.System.gc()
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

# the span around the benchmark's own GC and cache clearing between
# operations: not part of any operation, and left out of pass times
ISOLATE = "bench.isolate"
# a traced pass whose operation spans cover less of its working time
# than this fails the run
MIN_COVERAGE = 0.9


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, completed tasks) of one job group,
    read from the status tracker once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


class Tracer:
    """In-memory spans around calls into the package.

    Timing is always on (the end-to-end numbers come from it). With
    ``enabled``, each span also tags the Spark jobs it launches with the
    job group ``<workload>:<pass>:<op>:<phase>`` — set on the calling
    thread, so jobs from ``InheritableThread`` legs inherit it — and
    :meth:`finish_counts` reads job, stage and task counts per group
    from the status tracker. Spans are written to one file at the end.
    """

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextmanager
    def span(self, name: str, pass_id="-", op="-", phase="-"):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self._trace_id,
            "group": f"{self.workload}:{pass_id}:{op}:{phase}",
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["group"] if self._stack else f"{self.workload}:idle"
                sc.setJobGroup(parent, "perfbench")

    def finish_counts(self) -> None:
        """Attach ``jobs``/``stages``/``tasks`` to every span: for a leaf,
        the work it ran; for a parent, the jobs that ran in its own group
        between its children, which no operation span accounts for."""
        if not self.enabled:
            return
        for s in self.spans:
            if "jobs" not in s:
                s["jobs"], s["stages"], s["tasks"] = group_counts(self.spark, s["group"])
    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, s: dict) -> float:
        return self.dur(s) - sum(self.dur(c) for c in self.children(s["id"]))

    def isolate_s(self, pass_span: dict) -> float:
        """Time of the benchmark's own isolation steps inside a pass."""
        return sum(self.dur(c) for c in self.children(pass_span["id"]) if c["name"] == ISOLATE)

    def work_s(self, pass_span: dict) -> float:
        """A pass's working time: its wall time minus the isolation steps."""
        return self.dur(pass_span) - self.isolate_s(pass_span)

    def coverage(self, pass_span: dict) -> float:
        """Share of a pass's working time covered by its operation spans."""
        ops = sum(self.dur(c) for c in self.children(pass_span["id"]) if c["name"] != ISOLATE)
        return ops / max(self.work_s(pass_span), 1e-9)

    def untagged_jobs(self, pass_span: dict) -> int:
        """Jobs that ran inside a pass but outside every leaf span."""
        n, todo = 0, [pass_span]
        while todo:
            s = todo.pop()
            kids = self.children(s["id"])
            if kids:
                n += s.get("jobs", 0)
                todo.extend(kids)
        return n

    def totals(self, spans) -> tuple[int, int, int]:
        """(jobs, stages, tasks) summed over the leaf spans under ``spans``."""
        j = st = t = 0
        todo = list(spans)
        while todo:
            s = todo.pop()
            kids = self.children(s["id"])
            if kids:
                todo.extend(kids)
            else:
                j += s.get("jobs", 0)
                st += s.get("stages", 0)
                t += s.get("tasks", 0)
        return j, st, t

    def write(self, path: str) -> None:
        """The spans, plus each span name's total self time."""
        self_s: dict[str, float] = {}
        for s in self.spans:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + self.self_time(s)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_s": self_s}, f)


def coverage_problems(tr: Tracer, pass_span: dict) -> list[str]:
    """Why a traced pass fails the coverage check: its operation spans
    miss part of its working time, or Spark jobs ran outside them.
    Needs :meth:`Tracer.finish_counts` first."""
    out = []
    cov = tr.coverage(pass_span)
    if cov < MIN_COVERAGE:
        out.append(f"spans cover {cov:.1%} of {pass_span['group']}, below {MIN_COVERAGE:.0%}")
    n = tr.untagged_jobs(pass_span)
    if n:
        out.append(f"{n} Spark jobs of {pass_span['group']} ran outside every operation span")
    return out
