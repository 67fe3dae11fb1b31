"""Landing job e2e (reference fetch.py:85-139): fake transport → bronze
raw JSON → normalize_hourly → daily golden rows, plus retry/backoff,
offline/sample fallback, and the CLI wrapper."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.operators.pipeline import daily_from_hourly, merge_hourly
from etl_weather_spark.sources.openmeteo import (
    AIR_URL,
    HOURLY_AIR_FIELDS,
    HOURLY_WEATHER_FIELDS,
    WEATHER_URL,
    NetworkError,
    land_raw,
    normalize_hourly,
    py_slug,
    read_raw_json,
)

TIMES = ["2025-01-01T00:00", "2025-01-01T01:00", "2025-01-02T00:00"]
WEATHER_HOURLY = {
    "time": TIMES,
    "temperature_2m": [25.0, 26.5, 24.0],
    "precipitation": [0.0, 0.1, 2.4],
}
AIR_HOURLY = {
    "time": TIMES,
    "pm2_5": [10.0, 20.0, 40.0],
    "pm10": [25.0, 30.0, 60.0],
}


def fake_transport(url: str, params: dict) -> dict:
    # shape-faithful Open-Meteo responses, keyed by endpoint
    if url == WEATHER_URL:
        return {"latitude": params["latitude"], "hourly": WEATHER_HOURLY}
    if url == AIR_URL:
        return {"latitude": params["latitude"], "hourly": AIR_HOURLY}
    raise AssertionError(f"unexpected url {url}")


def fake_geocoder(city: str) -> dict:
    return {"name": city, "lat": -6.9, "lon": 107.6, "timezone": "Asia/Jakarta"}


def test_py_slug_matches_reference_semantics():
    assert py_slug("São Paulo") == "sao-paulo"
    assert py_slug("  New   York!! ") == "new-york"
    assert py_slug("") == "city"


def test_land_raw_to_daily_golden_rows(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    out = land_raw(
        "Bandung",
        raw_dir,
        transport=fake_transport,
        geocoder=fake_geocoder,
        now="20250102T120000",
    )
    assert out["slug"] == "bandung"
    # timestamped history + latest alias, both kinds (K1/M2)
    landed = json.loads(open(out["weather_latest"]).read())
    assert landed["city"] == "Bandung"
    assert landed["ingest_ts"] == "2025-01-02T12:00:00"

    hw = normalize_hourly(
        read_raw_json(spark, out["weather_latest"], HOURLY_WEATHER_FIELDS),
        HOURLY_WEATHER_FIELDS,
    )
    ha = normalize_hourly(
        read_raw_json(spark, out["air_latest"], HOURLY_AIR_FIELDS), HOURLY_AIR_FIELDS
    )
    daily = daily_from_hourly(merge_hourly(hw, ha)).orderBy("date")
    rows = [r.asDict() for r in daily.collect()]
    assert len(rows) == 2
    assert rows[0]["date"] == dt.date(2025, 1, 1)
    assert (rows[0]["temp_min"], rows[0]["temp_max"], rows[0]["total_rain"]) == (
        25.0,
        26.5,
        0.1,
    )
    assert rows[1]["pm25_category"] == "Tidak sehat (sensitif)"


def test_land_raw_retries_then_succeeds(tmp_path):
    attempts = []

    def flaky(url, params):
        attempts.append(url)
        if len(attempts) < 2:
            raise OSError("connection reset")
        return fake_transport(url, params)

    sleeps = []
    out = land_raw(
        "bandung",
        str(tmp_path),
        transport=flaky,
        geocoder=fake_geocoder,
        sleep=sleeps.append,
        now="20250101T000000",
    )
    assert out["weather_path"].endswith("bandung_weather_20250101T000000.json")
    assert sleeps == [0.8]  # reference backoff start (fetch.py:24)


def test_land_raw_falls_back_to_sample(tmp_path):
    sdir = tmp_path / "samples"
    sdir.mkdir()
    (sdir / "bandung_weather.json").write_text(json.dumps({"hourly": WEATHER_HOURLY}))
    (sdir / "bandung_air.json").write_text(json.dumps({"hourly": AIR_HOURLY}))

    def down(url, params):
        raise OSError("network down")

    out = land_raw(
        "bandung",
        str(tmp_path / "raw"),
        transport=down,
        geocoder=fake_geocoder,
        sample_dir=str(sdir),
        sleep=lambda s: None,
        now="20250101T000000",
    )
    landed = json.loads(open(out["weather_latest"]).read())
    assert landed["hourly"]["temperature_2m"] == [25.0, 26.5, 24.0]
    # no-fallback surfaces the NetworkError instead (S5)
    with pytest.raises(NetworkError):
        land_raw(
            "bandung",
            str(tmp_path / "raw2"),
            transport=down,
            geocoder=fake_geocoder,
            fallback=False,
            sleep=lambda s: None,
        )


def test_land_raw_offline_mode(tmp_path):
    sdir = tmp_path / "samples"
    sdir.mkdir()
    (sdir / "bandung_weather.json").write_text(json.dumps({"hourly": WEATHER_HOURLY}))
    (sdir / "bandung_air.json").write_text(json.dumps({"hourly": AIR_HOURLY}))
    out = land_raw(
        "bandung",
        str(tmp_path / "raw"),
        offline=True,
        sample_dir=str(sdir),
        now="20250101T000000",
    )
    assert json.loads(open(out["air_latest"]).read())["hourly"]["pm2_5"][0] == 10.0
    with pytest.raises(ValueError):
        land_raw("bandung", str(tmp_path), days=17, offline=True)


def test_cli_fetch_offline(tmp_path, capsys):
    from etl_weather_spark.cli import main

    sdir = tmp_path / "samples"
    sdir.mkdir()
    (sdir / "bandung_weather.json").write_text(json.dumps({"hourly": WEATHER_HOURLY}))
    (sdir / "bandung_air.json").write_text(json.dumps({"hourly": AIR_HOURLY}))
    rc = main(
        [
            "fetch",
            "bandung",
            "--raw-dir",
            str(tmp_path / "raw"),
            "--offline",
            "--sample-dir",
            str(sdir),
        ]
    )
    assert rc == 0
    assert "weather_latest" in capsys.readouterr().out
    rc = main(
        ["fetch", "bandung", "--raw-dir", str(tmp_path / "raw2"), "--offline",
         "--sample-dir", str(tmp_path / "nope")]
    )
    assert rc == 1


def test_cli_all_offline_end_to_end(tmp_path, capsys):
    """Reference `etl-weather all` parity: fetch (offline sample) →
    daily CSV → HTML report, one command."""
    import csv

    from etl_weather_spark.cli import main

    sdir = tmp_path / "samples"
    sdir.mkdir()
    (sdir / "bandung_weather.json").write_text(json.dumps({"hourly": WEATHER_HOURLY}))
    (sdir / "bandung_air.json").write_text(json.dumps({"hourly": AIR_HOURLY}))
    csv_out = str(tmp_path / "gold" / "bandung_daily.csv")
    html_out = str(tmp_path / "reports" / "bandung.html")
    rc = main(
        [
            "all", "bandung",
            "--raw-dir", str(tmp_path / "raw"),
            "--offline", "--sample-dir", str(sdir),
            "--csv-out", csv_out, "--output", html_out,
        ]
    )
    assert rc == 0
    rows = list(csv.DictReader(open(csv_out)))
    assert len(rows) == 2
    assert rows[0]["date"] == "2025-01-01"
    assert float(rows[0]["temp_max"]) == 26.5
    assert rows[1]["pm25_category"] == "Tidak sehat (sensitif)"
    html_text = open(html_out).read()
    assert "bandung" in html_text and "<svg" in html_text
    assert "2025-01-02" in html_text


def test_cli_all_bare_output_filenames(tmp_path, capsys, monkeypatch):
    """Bare (directory-less) --csv-out/--output must not crash makedirs."""
    from etl_weather_spark.cli import main

    monkeypatch.chdir(tmp_path)
    sdir = tmp_path / "samples"
    sdir.mkdir()
    (sdir / "bandung_weather.json").write_text(json.dumps({"hourly": WEATHER_HOURLY}))
    (sdir / "bandung_air.json").write_text(json.dumps({"hourly": AIR_HOURLY}))
    rc = main(
        ["all", "bandung", "--raw-dir", str(tmp_path / "raw"), "--offline",
         "--sample-dir", str(sdir), "--csv-out", "daily.csv", "--output", "report.html"]
    )
    assert rc == 0
    assert (tmp_path / "daily.csv").exists() and (tmp_path / "report.html").exists()


def test_read_raw_json_reads_landed_dir_without_listing_job(spark, tmp_path):
    """A pattern over more than 32 landed files builds its DataFrame
    without a Spark listing job and reads exactly the latest documents.
    Contract: a landed directory is flat — a plain subdirectory is
    ignored, and a partition-style ``k=v/`` one fails the read."""
    from pyspark.errors import PySparkException

    raw = tmp_path / "raw"
    cities = [f"City {i:02d}" for i in range(40)]  # above the 32-path threshold
    for now in ("20250101T000000", "20250102T120000"):  # history + newer latest
        for c in cities:
            land_raw(c, str(raw), transport=fake_transport, geocoder=fake_geocoder, now=now)
    stray = json.dumps({"city": "stray", "ingest_ts": "2025-01-03T00:00:00", "hourly": WEATHER_HOURLY})
    (raw / "city-00_weather_latest.json.tmp.123").write_text(stray)
    (raw / "_x_weather_latest.json").write_text(stray)
    (raw / "nested").mkdir()
    (raw / "nested" / "deep_weather_latest.json").write_text(stray)

    pattern = str(raw / "*_weather_latest.json")
    sc = spark.sparkContext
    sc.setJobGroup("read-raw-json-listing", "read_raw_json over a landed dir")
    try:
        df = read_raw_json(spark, pattern, HOURLY_WEATHER_FIELDS)
        assert list(sc.statusTracker().getJobIdsForGroup("read-raw-json-listing")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rows = df.select("city", F.col("ingest_ts").cast("string").alias("ts")).collect()
    assert sorted(r.city for r in rows) == cities
    assert {r.ts for r in rows} == {"2025-01-02 12:00:00"}

    (raw / "k=v").mkdir()
    (raw / "k=v" / "part_weather_latest.json").write_text(stray)
    with pytest.raises(PySparkException, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        read_raw_json(spark, pattern, HOURLY_WEATHER_FIELDS).collect()
