"""``weather_batch``: the paper's ``all`` pipeline over many cities at once.

One pass lands every city's generated weather and air-quality documents
through ``sources.openmeteo.land_raw`` (in-memory transport and
geocoder), then runs ``read_raw_json`` → ``normalize_hourly`` →
``merge_hourly`` → ``daily_from_hourly`` → gold CSV →
``summary_from_daily`` → ``render_report`` per city. Every pass writes
into a fresh directory, so nothing is reused between passes.

Outputs are checked against :func:`reference`, a plain-Python
computation over the same generated documents.
"""

from __future__ import annotations

import csv
import html
import os
import re
import shutil
from decimal import ROUND_HALF_UP, Decimal

from perfbench import gen
from perfbench.common import Tracer

FIXED_NOW = "20250101T000000"
_TIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}$")
# FIXTURES §2.2 semantics, restated here so the check does not import
# the thresholds it is checking
_PM25_BINS = ((12.0, "Baik"), (35.4, "Sedang"), (55.4, "Tidak sehat (sensitif)"),
              (150.4, "Tidak sehat"), (250.4, "Sangat tidak sehat"))


def _r2(x):
    """Spark's ``round(x, 2)`` on a double: HALF_UP of the decimal repr."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _category(v):
    if v is None:
        return "Tidak diketahui"
    for edge, label in _PM25_BINS:
        if v <= edge:
            return label
    return "Berbahaya"


def _recommendation(pm25, tmax, rainy):
    parts = []
    if pm25 is not None and pm25 > 55.4:
        parts.append("Kualitas udara buruk, gunakan masker saat keluar.")
    elif pm25 is not None and pm25 > 35.4:
        parts.append("Udara kurang baik untuk kelompok sensitif, pertimbangkan masker.")
    if tmax is not None and tmax > 33.0:
        parts.append("Cuaca panas, minum air yang cukup.")
    if rainy is not None and rainy >= 3:
        parts.append("Sering hujan, siapkan payung.")
    return " ".join(parts) or "Kondisi cuaca dan udara relatif nyaman."


def _hourly(doc: dict, fields: dict[str, str]) -> dict[str, dict]:
    """time string → {canonical metric: value}, with the normalize rules:
    unparsable times are dropped, a missing or length-mismatched metric
    array is all-null."""
    h = doc["hourly"]
    times = h.get("time") or []
    cols = {}
    for raw, canon in fields.items():
        arr = h.get(raw)
        cols[canon] = arr if arr is not None and len(arr) == len(times) else None
    out = {}
    for i, t in enumerate(times):
        if t is None or not _TIME_RE.match(t):
            continue
        out[t] = {c: (arr[i] if arr is not None else None) for c, arr in cols.items()}
    return out


def reference(docs: list[dict]) -> tuple[dict, dict]:
    """(daily rows keyed (city, date), summary rows keyed city)."""
    w_fields = {"temperature_2m": "temp", "precipitation": "rain"}
    a_fields = {"pm2_5": "pm25", "pm10": "pm10"}
    daily, summary = {}, {}
    for d in docs:
        city = d["city"]
        w = _hourly(d["weather"], w_fields)
        a = _hourly(d["air"], a_fields)
        by_date: dict[str, list[dict]] = {}
        for t in set(w) | set(a):
            row = {"temp": None, "rain": None, "pm25": None, "pm10": None}
            row.update(w.get(t, {}))
            row.update(a.get(t, {}))
            by_date.setdefault(t[:10], []).append(row)
        days = []
        for date in sorted(by_date):
            rows = by_date[date]
            vals = {k: [r[k] for r in rows if r[k] is not None] for k in ("temp", "rain", "pm25", "pm10")}
            tmin = _r2(min(vals["temp"])) if vals["temp"] else None
            tmax = _r2(max(vals["temp"])) if vals["temp"] else None
            rain = _r2(sum(vals["rain"]) if vals["rain"] else 0.0)
            pm25 = _r2(sum(vals["pm25"]) / len(vals["pm25"])) if vals["pm25"] else None
            pm10 = _r2(sum(vals["pm10"]) / len(vals["pm10"])) if vals["pm10"] else None
            rec = {
                "city": city, "date": date, "temp_min": tmin, "temp_max": tmax,
                "total_rain": rain, "pm25_avg": pm25, "pm10_avg": pm10,
                "pm25_category": _category(pm25),
                "is_hot_day": tmax is not None and tmax > 33.0,
                "is_heavy_rain": rain > 20.0,
                "is_unhealthy_pm25": pm25 is not None and pm25 > 35.4,
            }
            daily[(city, date)] = rec
            days.append(rec)
        tmins = [r["temp_min"] for r in days if r["temp_min"] is not None]
        tmaxs = [r["temp_max"] for r in days if r["temp_max"] is not None]
        pms = [r["pm25_avg"] for r in days if r["pm25_avg"] is not None]
        wettest = max(r["total_rain"] for r in days)
        summary[city] = {
            "period_temp_min": _r2(min(tmins)) if tmins else None,
            "period_temp_max": _r2(max(tmaxs)) if tmaxs else None,
            "period_pm25_avg": _r2(sum(pms) / len(pms)) if pms else None,
            "wettest_dates": {r["date"] for r in days if r["total_rain"] == wettest},
            "wettest_rain": _r2(wettest),
            "rainy_days": sum(1 for r in days if r["total_rain"] > 0.0),
            "n_days": len(days),
        }
    return daily, summary


def check_daily(rows: list[dict], ref: dict) -> list[str]:
    """Mismatches between collected gold rows and the reference."""
    errs = []
    seen = set()
    for r in rows:
        key = (r["city"], str(r["date"]))
        seen.add(key)
        exp = ref.get(key)
        if exp is None:
            errs.append(f"unexpected gold row {key}")
            continue
        for k, v in exp.items():
            got = str(r[k]) if k == "date" else r[k]
            if got != v:
                errs.append(f"gold {key} {k}: got {got!r} want {v!r}")
                break
    missing = set(ref) - seen
    if missing:
        errs.append(f"{len(missing)} gold rows missing, e.g. {sorted(missing)[0]}")
    return errs


def check_summary(rows: list[dict], ref: dict) -> list[str]:
    errs = []
    seen = set()
    for r in rows:
        city = r["city"]
        seen.add(city)
        exp = ref.get(city)
        if exp is None:
            errs.append(f"unexpected summary row {city}")
            continue
        bad = [
            k for k in ("period_temp_min", "period_temp_max", "wettest_rain", "rainy_days", "n_days")
            if r[k] != exp[k]
        ]
        # a mean of rounded daily means: summation order can move the
        # last bit, and with it the rounded cent
        pa, pe = r["period_pm25_avg"], exp["period_pm25_avg"]
        if (pa is None) != (pe is None) or (pa is not None and abs(pa - pe) > 0.0100001):
            bad.append("period_pm25_avg")
        if str(r["wettest_date"]) not in exp["wettest_dates"]:
            bad.append("wettest_date")
        if r["recommendation"] != _recommendation(pa, r["period_temp_max"], r["rainy_days"]):
            bad.append("recommendation")
        if bad:
            errs.append(f"summary {city}: {bad}")
    if set(ref) - seen:
        errs.append(f"{len(set(ref) - seen)} summary rows missing")
    return errs


class WeatherBatch:
    name = "weather_batch"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.spark = None

    # -- inputs ------------------------------------------------------------
    def generate(self, seconds: float) -> None:
        c = self.cfg
        self.docs = gen.weather_documents(self.seed, c["cities"], c["forecast_days"], c["case_shares"])
        self.ref_daily, self.ref_summary = reference(self.docs)

    # -- set-up ------------------------------------------------------------
    def setup_round(self, spark, k: int) -> None:
        """Nothing beyond the session: every pass lands and reads its own
        documents."""
        self.spark = spark

    def teardown_round(self) -> None:
        pass

    # -- one pass ----------------------------------------------------------
    def _land(self, docs: list[dict], raw_dir: str) -> None:
        from etl_weather_spark.sources.openmeteo import AIR_URL, land_raw

        by_loc = {(d["lat"], d["lon"]): d for d in docs}
        geo = {d["city"]: {"name": d["city"], "lat": d["lat"], "lon": d["lon"], "timezone": "UTC"} for d in docs}

        def transport(url, params):
            d = by_loc[(params["latitude"], params["longitude"])]
            return d["air"] if url == AIR_URL else d["weather"]

        for d in docs:
            land_raw(d["city"], raw_dir, days=self.cfg["forecast_days"], transport=transport,
                     geocoder=geo.__getitem__, now=FIXED_NOW, sleep=lambda _s: None)

    def _etl(self, tr: Tracer, docs: list[dict], root: str, pass_id) -> dict:
        """One pass; returns its outputs for checking."""
        from etl_weather_spark.operators.pipeline import (
            daily_from_hourly,
            merge_hourly,
            summary_from_daily,
        )
        from etl_weather_spark.report import render_report
        from etl_weather_spark.sources.openmeteo import (
            HOURLY_AIR_FIELDS,
            HOURLY_WEATHER_FIELDS,
            normalize_hourly,
            py_slug,
            read_raw_json,
        )

        spark = self.spark
        raw_dir = os.path.join(root, "raw")
        gold = os.path.join(root, "gold", "daily.csv")
        rep_dir = os.path.join(root, "reports")
        out = {"root": root}
        with tr.span("sources.land", pass_id, "land", "write"):
            self._land(docs, raw_dir)
        with tr.span("pipeline.daily", pass_id, "daily", "collect"):
            hw = normalize_hourly(read_raw_json(spark, os.path.join(raw_dir, "*_weather_latest.json"),
                                                HOURLY_WEATHER_FIELDS), HOURLY_WEATHER_FIELDS)
            ha = normalize_hourly(read_raw_json(spark, os.path.join(raw_dir, "*_air_latest.json"),
                                                HOURLY_AIR_FIELDS), HOURLY_AIR_FIELDS)
            daily = daily_from_hourly(merge_hourly(hw, ha))
            rows = [r.asDict() for r in daily.collect()]
        with tr.span("pipeline.csv", pass_id, "csv", "write"):
            os.makedirs(os.path.dirname(gold), exist_ok=True)
            with open(gold, "w", newline="", encoding="utf-8") as f:
                w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
                w.writeheader()
                w.writerows(rows)
        with tr.span("pipeline.summary", pass_id, "summary", "collect"):
            summ = [r.asDict() for r in summary_from_daily(daily).collect()]
        with tr.span("report.render", pass_id, "render", "write"):
            os.makedirs(rep_dir, exist_ok=True)
            by_city: dict[str, list[dict]] = {}
            for r in rows:
                by_city.setdefault(r["city"], []).append(r)
            render_failed = {}
            for s in summ:
                try:
                    page = render_report(
                        title=s["city"],
                        summary={
                            "period_avg": s["period_pm25_avg"],
                            "period_max": s["period_temp_max"],
                            "wettest_date": s["wettest_date"],
                            "wettest_sum": s["wettest_rain"],
                            "rainy_days": s["rainy_days"],
                            "n_days": s["n_days"],
                        },
                        daily=[{"date": d["date"], "vavg": d["pm25_avg"], "vsum": d["total_rain"]}
                               for d in by_city.get(s["city"], [])],
                        recommendation=str(s["recommendation"]),
                    )
                except (TypeError, ValueError) as ex:  # counted as a failed operation
                    render_failed[s["city"]] = f"{type(ex).__name__}: {ex}"
                    continue
                with open(os.path.join(rep_dir, f"{py_slug(s['city'])}.html"), "w", encoding="utf-8") as f:
                    f.write(page)
        out.update(rows=rows, summary=summ, gold=gold, rep_dir=rep_dir, raw_dir=raw_dir,
                   hw=hw, ha=ha, render_failed=render_failed)
        return out

    def run_pass(self, tr: Tracer, pass_id) -> tuple[dict, dict]:
        """Returns (pass span, outputs)."""
        root = os.path.join(self.work, f"pass-{pass_id}")
        tr.new_trace()
        with tr.span("pass", pass_id) as sp:
            out = self._etl(tr, self.docs, root, pass_id)
        return sp, out

    def traced_extras(self, tr: Tracer, out: dict, pass_id) -> dict:
        """Traced passes only, outside the pass: force the normalize layer
        alone through the noop sink, count its rows, and size the pass's
        files."""
        with tr.span("sources.normalize", pass_id, "normalize", "noop") as sp:
            for df in (out["hw"], out["ha"]):
                df.write.format("noop").mode("overwrite").save()
        raw_files = os.listdir(out["raw_dir"])
        pages = os.listdir(out["rep_dir"])
        return {
            "span": sp,
            "hourly_rows": out["hw"].count() + out["ha"].count(),
            "land_files": len(raw_files),
            "land_mb": sum(os.path.getsize(os.path.join(out["raw_dir"], f)) for f in raw_files) / 2**20,
            "pages": len(pages),
            "report_mb": sum(os.path.getsize(os.path.join(out["rep_dir"], f)) for f in pages) / 2**20,
            "gold_rows": len(out["rows"]),
        }

    def layer_metrics(self, tr: Tracer, sp: dict, extra: dict, add) -> None:
        """Per-layer metrics of one traced pass, through ``add(name, value)``."""
        kids = {c["name"]: c for c in tr.children(sp["id"])}
        add("sources.land_s", tr.dur(kids["sources.land"]))
        add("sources.normalize_s", tr.dur(extra["span"]))
        add("sources.normalize_tasks", tr.totals([extra["span"]])[2])
        for stage in ("daily", "summary"):
            s = kids[f"pipeline.{stage}"]
            add(f"pipeline.{stage}_s", tr.dur(s))
            add(f"pipeline.{stage}_jobs", s["jobs"])
            add(f"pipeline.{stage}_tasks", s["tasks"])
        add("pipeline.csv_s", tr.dur(kids["pipeline.csv"]))
        add("report.render_s", tr.dur(kids["report.render"]))
        for k in ("hourly_rows", "land_files", "land_mb"):
            add(f"sources.{k}", extra[k])
        add("pipeline.gold_rows", extra["gold_rows"])
        add("report.pages", extra["pages"])
        add("report.mb", extra["report_mb"])

    def run_metrics(self, pass1_s: float) -> dict:
        return {}

    def check(self, out: dict) -> tuple[int, dict, list[str]]:
        """(operations attempted, {failed operation: cause}, wrong outputs).
        Operations: the gold table, the gold CSV, the summary table and
        every report page."""
        errs = check_daily(out["rows"], self.ref_daily)
        with open(out["gold"], newline="", encoding="utf-8") as f:
            n_csv = sum(1 for _ in csv.DictReader(f))
        if n_csv != len(self.ref_daily):
            errs.append(f"gold csv has {n_csv} rows, want {len(self.ref_daily)}")
        errs += check_summary(out["summary"], self.ref_summary)
        by_city = {s["city"]: s for s in out["summary"]}
        from etl_weather_spark.sources.openmeteo import py_slug

        for city in self.ref_summary:
            if city in out["render_failed"]:
                continue
            p = os.path.join(out["rep_dir"], f"{py_slug(city)}.html")
            try:
                with open(p, encoding="utf-8") as f:
                    page = f.read()
            except FileNotFoundError:
                errs.append(f"report missing for {city}")
                continue
            s = by_city.get(city)
            if s is None or html.escape(city) not in page or html.escape(s["recommendation"]) not in page:
                errs.append(f"report for {city} lacks its title or recommendation")
        failed = {f"render {c} in {os.path.basename(out['root'])}": why for c, why in out["render_failed"].items()}
        return 3 + len(self.ref_summary), failed, errs

    def drop_pass(self, out: dict) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)
