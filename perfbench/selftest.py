"""Self-test of the benchmark's output checks: each must flag a corruption.

    python3 perfbench/selftest.py

Corrupts one gold row (``weather_batch``), one response body
(``serve_edge``) and one result hash (``curation_heavy``) and fails
unless each check reports it — and unless each passes the uncorrupted
output. Also feeds the traced run's coverage check a pass with a gap
and a pass with an untagged job, and fails unless it flags both. Needs
no Spark; ``run.py`` runs it before every run.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen  # noqa: E402
from perfbench.common import ISOLATE, Tracer, coverage_problems  # noqa: E402
from perfbench.curation_heavy import CurationHeavy, fingerprint  # noqa: E402
from perfbench.loadgen import canonical  # noqa: E402
from perfbench.serve_edge import ServeEdge  # noqa: E402
from perfbench.weather_batch import _recommendation, check_daily, check_summary, reference  # noqa: E402

SHARES = {"missing_array": 0.2, "length_mismatch": 0.2, "bad_time": 0.2, "one_source_hours": 0.2}


def _as_spark_rows(ref_daily: dict) -> list[dict]:
    """The reference rows in the shape ``daily.collect()`` returns."""
    return [{**r, "date": dt.date.fromisoformat(r["date"])} for r in ref_daily.values()]


def weather_row() -> None:
    docs = gen.weather_documents(3, 10, 2, SHARES)
    again = gen.weather_documents(3, 10, 2, SHARES)
    if json.dumps(docs, sort_keys=True) != json.dumps(again, sort_keys=True):
        raise AssertionError("weather generator is not deterministic")
    daily, summary = reference(docs)
    rows = _as_spark_rows(daily)
    if check_daily(rows, daily):
        raise AssertionError("clean gold rows flagged")
    bad = copy.deepcopy(rows)
    bad[len(bad) // 2]["total_rain"] += 0.01
    if not check_daily(bad, daily):
        raise AssertionError("corrupted gold row not flagged")
    srows = []
    for city, s in summary.items():
        srows.append({"city": city, **{k: v for k, v in s.items() if k != "wettest_dates"},
                      "wettest_date": dt.date.fromisoformat(min(s["wettest_dates"])),
                      "recommendation": _recommendation(s["period_pm25_avg"], s["period_temp_max"],
                                                        s["rainy_days"])})
    if check_summary(srows, summary):
        raise AssertionError("clean summary rows flagged")
    srows[0]["rainy_days"] += 1
    if not check_summary(srows, summary):
        raise AssertionError("corrupted summary row not flagged")


def serve_body() -> None:
    import hashlib

    body = json.dumps([{"a": 1, "b": 2.5}, {"a": 2, "b": None}]).encode()
    shuffled = json.dumps([{"b": None, "a": 2}, {"b": 2.5, "a": 1}]).encode()
    digest = lambda b: hashlib.sha256(canonical(b, "application/json").encode()).hexdigest()  # noqa: E731
    if digest(body) != digest(shuffled):
        raise AssertionError("row order changed a JSON body's digest")
    w = ServeEdge.__new__(ServeEdge)
    ref = {"/x": (200, digest(body))}
    good = [{"url": "/x?rid=0", "ref": "/x", "expect": 200, "status": 200, "digest": digest(shuffled)},
            {"url": "/bad?rid=1", "ref": None, "expect": 400, "status": 400, "digest": ""}]
    if w.check_open(ref, good) != ({}, []):
        raise AssertionError("clean responses flagged")
    corrupt = json.dumps([{"a": 1, "b": 2.5}, {"a": 3, "b": None}]).encode()
    bad = copy.deepcopy(good)
    bad[0]["digest"] = digest(corrupt)
    if not w.check_open(ref, bad)[1]:
        raise AssertionError("corrupted body not flagged")
    bad = copy.deepcopy(good)
    bad[1]["status"] = 200
    if not w.check_open(ref, bad)[1]:
        raise AssertionError("malformed request answered 200 not flagged")


def curation_hash() -> None:
    cols = ["id_b", "id_a", "jaccard"]
    rows = [(3, 1, 0.9), (9, 4, 1.0)]
    fp = fingerprint(cols, rows)
    if fp != fingerprint(["id_a", "id_b", "jaccard"], [(4, 9, 1.0), (1, 3, 0.9)]):
        raise AssertionError("column or row order changed a fingerprint")
    c = CurationHeavy.__new__(CurationHeavy)
    c.names = ["q"]
    c.oracle = {"q": fp}
    if c.check({"results": {"q": fp}})[2]:
        raise AssertionError("clean result flagged")
    bad_hash = (fp[0], fp[1][:-1] + ("0" if fp[1][-1] != "0" else "1"))
    if not c.check({"results": {"q": bad_hash}})[2]:
        raise AssertionError("corrupted hash not flagged")
    if not c.check({"results": {"q": fingerprint(cols, [(3, 1, 0.9), (9, 4, 0.9999)])}})[2]:
        raise AssertionError("corrupted row not flagged")


def trace_coverage() -> None:
    def traced_pass(op_end: float, pass_jobs: int) -> tuple[Tracer, dict]:
        """A 10 s pass: one operation from 0 s to ``op_end``, then the
        benchmark's isolation step from 9 s to 10 s."""
        tr = Tracer(None, "w", False)
        tr.spans = [
            {"id": 0, "name": "pass", "parent": None, "group": "w:1:-:-", "start": 0.0, "end": 10.0,
             "jobs": pass_jobs},
            {"id": 1, "name": "op", "parent": 0, "group": "w:1:op:-", "start": 0.0, "end": op_end, "jobs": 3},
            {"id": 2, "name": ISOLATE, "parent": 0, "group": "w:1:op:isolate", "start": 9.0, "end": 10.0,
             "jobs": 0},
        ]
        return tr, tr.spans[0]

    if coverage_problems(*traced_pass(9.0, 0)):
        raise AssertionError("a fully covered pass flagged")
    if not coverage_problems(*traced_pass(7.0, 0)):
        raise AssertionError("a pass with a 2 s gap between spans not flagged")
    if not coverage_problems(*traced_pass(9.0, 1)):
        raise AssertionError("a job outside every operation span not flagged")


def run_all() -> None:
    weather_row()
    serve_body()
    curation_hash()
    trace_coverage()


if __name__ == "__main__":
    run_all()
    print("selftest: every corruption flagged")
