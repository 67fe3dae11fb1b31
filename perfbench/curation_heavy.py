"""``curation_heavy``: a fixed pass over construction-bound registry queries.

Each operation is one registered query: ``build`` is ``fn(spark,
sf_dir)`` (under AQE, fences already run jobs here) and ``exec``
collects the rows (every result is at most a few dozen rows, so the
collect costs what the noop sink would, and it lets every execution be
checked). Passes are isolated from outside: each pass gets a fresh
``SPARK_GRAFT_ARTIFACT_DIR``, and after each operation the benchmark
records CacheManager entries, forces a JVM and a Python GC, records the
persisted RDDs still pinned, and clears the cache.

Each execution is compared with the query's registered DuckDB oracle,
computed once per run outside the timed passes: row count and an
order-insensitive, type-aware hash of the rows.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

from perfbench import gen
from perfbench.common import ISOLATE, Tracer, cached_entries, pinned_after_gc

# the query whose whole span is the artifact publish (train, then commit)
PUBLISH_QUERY = "bpe_vocab_publish"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return str(v)
    return v.isoformat() if hasattr(v, "isoformat") else str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash of the sorted rows with columns in name order)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(rows), h.hexdigest()


def oracle_fingerprints(sf_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    import duckdb

    from etl_weather_spark import queries as q

    sql = q.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for n in names:
            tbl = con.execute(sql[n]).arrow()
            cols = tbl.column_names
            rows = list(zip(*[tbl.column(c).to_pylist() for c in cols])) if cols else []
            out[n] = fingerprint(cols, rows)
        return out
    finally:
        con.close()


class CurationHeavy:
    name = "curation_heavy"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "tables")
        self.names = list(cfg["queries"])
        self.spark = None
        self.isolation: list[dict] = []

    def generate(self, seconds: float) -> None:
        self.counts = gen.write_tables(self.seed, self.sf_dir, self.cfg["tables"])
        self.oracle = oracle_fingerprints(self.sf_dir, self.names)

    def setup_round(self, spark, k: int) -> None:
        """Register the tables the queries scan (schema reads, no job)."""
        from etl_weather_spark import queries as q

        self.spark = spark
        for t in ("documents", "embeddings"):
            q.load(spark, self.sf_dir, t)

    def teardown_round(self) -> None:
        pass

    def run_pass(self, tr: Tracer, pass_id) -> tuple[dict, dict]:
        from etl_weather_spark import queries as q

        reg = q.queries()
        art = os.path.join(self.work, f"artifacts-{pass_id}")
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = art
        results, failed = {}, {}
        tr.new_trace()
        with tr.span("pass", pass_id) as sp:
            for n in self.names:
                try:
                    with tr.span(f"queries.{n}", pass_id, n):
                        with tr.span(f"queries.{n}.build", pass_id, n, "build"):
                            df = reg[n](self.spark, self.sf_dir)
                        with tr.span(f"queries.{n}.exec", pass_id, n, "exec"):
                            rows = [tuple(r) for r in df.collect()]
                    results[n] = fingerprint(df.columns, rows)
                except Exception as ex:  # noqa: BLE001 - a failed operation, counted
                    failed[f"{n} in pass {pass_id}"] = f"{type(ex).__name__}: {str(ex)[:300]}"
                with tr.span(ISOLATE, pass_id, n, "isolate"):
                    self.isolation.append({
                        "pass": pass_id, "query": n,
                        "cached_after_op": cached_entries(self.spark),
                        "pinned_after_gc": pinned_after_gc(self.spark),
                    })
                    self.spark.catalog.clearCache()
        return sp, {"results": results, "failed": failed, "art": art}

    def check(self, out: dict) -> tuple[int, dict, list[str]]:
        errs = []
        for n, got in out["results"].items():
            want = self.oracle[n]
            if got != want:
                errs.append(f"{n}: {got[0]} rows hash {got[1][:12]}, oracle {want[0]} rows hash {want[1][:12]}")
        return len(self.names), out.get("failed", {}), errs

    def traced_extras(self, tr: Tracer, out: dict, pass_id) -> dict:
        """The pass's artifact registry: committed versions and bytes."""
        versions = size = 0
        for dirpath, _dirs, files in os.walk(out["art"]):
            for f in files:
                size += os.path.getsize(os.path.join(dirpath, f))
                if os.path.basename(dirpath) == "artifact_meta":
                    versions += 1
        return {"versions": versions, "mb": size / 2**20}

    def layer_metrics(self, tr: Tracer, sp: dict, extra: dict, add) -> None:
        """Per-layer metrics of one traced pass, through ``add(name, value)``."""
        kids = {c["name"]: c for c in tr.children(sp["id"])}
        tb = te = 0.0
        qj = qt = 0
        for n in self.names:
            q = kids.get(f"queries.{n}")
            if q is None or len(tr.children(q["id"])) != 2:
                continue  # the query failed; counted in error_rate
            b, e = tr.children(q["id"])
            jobs, _stages, tasks = tr.totals([q])
            add(f"queries.{n}.build_s", tr.dur(b))
            add(f"queries.{n}.exec_s", tr.dur(e))
            add(f"queries.{n}.jobs", jobs)
            add(f"queries.{n}.tasks", tasks)
            tb += tr.dur(b)
            te += tr.dur(e)
            qj += jobs
            qt += tasks
        add("queries.build_s", tb)
        add("queries.exec_s", te)
        add("queries.jobs", qj)
        add("queries.tasks", qt)
        add("queries.tasks_per_job", qt / qj if qj else 0.0)
        pub = kids.get(f"queries.{PUBLISH_QUERY}")
        if pub is not None:
            add("artifacts.publish_s", tr.dur(pub))
        add("artifacts.versions", extra["versions"])
        add("artifacts.mb", extra["mb"])

    def run_metrics(self, pass1_s: float) -> dict:
        """The cold pass's wall time, the most cache entries one of its
        operations left, and the RDDs still pinned after its last
        operation. Leaks add up across operations, so both counts are
        taken from the cold pass alone: they do not depend on how many
        passes fit in the run."""
        iso = [r for r in self.isolation if r["pass"] == 1]
        return {
            "queries.pass1_s": pass1_s,
            "queries.cached_after_op": max((r["cached_after_op"] for r in iso), default=0),
            "queries.pinned_after_gc": iso[-1]["pinned_after_gc"] if iso else 0,
        }

    def drop_pass(self, out: dict) -> None:
        shutil.rmtree(out["art"], ignore_errors=True)
