"""Serving-edge report sink (K4/K5/C6), ingestion retry (S5), and
batched external enrichment (D2)."""

from __future__ import annotations

import pytest

from etl_weather_spark.report import fmt1, render_report, svg_bar_chart, svg_line_chart


def test_fmt1_formats_and_dashes():
    assert fmt1(3.14159) == "3.1"
    assert fmt1(None) == "-"
    assert fmt1(0.0) == "0.0"


def test_svg_charts_contain_marks_and_tooltips():
    pts = [("2024-01-01", 10.0), ("2024-01-02", 25.5), ("2024-01-03", 5.0)]
    line = svg_line_chart(pts, title="Daily average")
    assert line.count("<circle") == 3
    assert "2024-01-02: 25.5" in line  # native tooltip carries the value
    assert 'aria-label="Daily average"' in line
    bars = svg_bar_chart(pts, title="Daily total")
    assert bars.count("<path") == 3
    assert "<title>" in bars
    # empty input degrades to an empty labeled svg, not an exception
    assert "svg" in svg_line_chart([], title="x")


def test_svg_charts_skip_none_values():
    """A city whose air documents lack pm2_5 has a None daily average on
    every day; the charts drop those points instead of raising."""
    empty = '<svg class="viz" role="img" aria-label="x"></svg>'
    all_none = [("2024-01-01", None), ("2024-01-02", None)]
    assert svg_line_chart(all_none, title="x") == empty
    assert svg_bar_chart(all_none, title="x") == empty

    some_none = [("2024-01-01", 10.0), ("2024-01-02", None), ("2024-01-03", 5.0)]
    line = svg_line_chart(some_none, title="x")
    assert line.count("<circle") == 2 and "2024-01-02" not in line
    bars = svg_bar_chart(some_none, title="x")
    assert bars.count("<title>") == 2 and "2024-01-02" not in bars

    page = render_report(
        title="no pm",
        summary={"period_avg": None, "n_days": 2},
        daily=[{"date": d, "vavg": None, "vsum": 1.0} for d, _ in all_none],
        recommendation="ok",
    )
    assert page.count("<svg") == 2 and page.count("<tr><td>2024-01-0") == 2


def test_render_report_escapes_and_embeds():
    html_text = render_report(
        title="<script>alert(1)</script>",
        summary={
            "period_avg": 12.345,
            "period_max": 30.0,
            "wettest_date": "2024-01-02",
            "wettest_sum": 9.87,
            "rainy_days": 2,
            "n_days": 3,
        },
        daily=[
            {"date": "2024-01-01", "vavg": 10.0, "vsum": 0.0},
            {"date": "2024-01-02", "vavg": 12.0, "vsum": 9.87},
        ],
        recommendation="Bring <an> umbrella",
    )
    assert "<script>alert" not in html_text  # escaped
    assert "12.3" in html_text and "9.9" in html_text  # fmt1 applied
    assert html_text.count("<svg") == 2  # line + bars embedded
    assert "Bring &lt;an&gt; umbrella" in html_text
    assert "<table>" in html_text  # accessibility table view


def test_save_report_writes_file(spark, sf_dir, tmp_path):
    from etl_weather_spark.report import save_report

    out = tmp_path / "r.html"
    path = save_report(spark, sf_dir, out)
    text = out.read_text()
    assert path == str(out)
    assert text.count("<svg") == 2 and "Recommendation" in text


def test_with_retries_backs_off_then_raises():
    from etl_weather_spark.sources.openmeteo import NetworkError, with_retries

    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "ok"

    assert with_retries(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    assert sleeps == [0.8, pytest.approx(0.8 * 1.6)]  # exponential ×1.6

    def always_fails():
        raise ValueError("down")

    with pytest.raises(NetworkError, match="after 3 attempts"):
        with_retries(always_fails, sleep=lambda _ : None)


def test_enrich_batched_distinct_retry_isolation(spark):
    from etl_weather_spark.functions.enrich import (
        deterministic_fake_model,
        enrich_batched,
    )

    rows = [("jakarta",), ("bandung",), ("jakarta",), ("FAIL",)]
    df = spark.createDataFrame(rows, "city string")

    def flaky_model(prompt: str) -> str:
        if "FAIL" in prompt:
            raise RuntimeError("service 500")
        return deterministic_fake_model(prompt)

    out = {
        r.city: r
        for r in enrich_batched(
            df, key_col="city", model=flaky_model, initial_delay=0.0, sleep=lambda _ : None
        ).collect()
    }
    # distinct keys only: 3 rows, not 4
    assert set(out) == {"jakarta", "bandung", "FAIL"}
    assert out["jakarta"].enrichment.startswith("fact-")
    assert out["jakarta"].enrich_error is None
    # deterministic: same key → same fact
    assert out["jakarta"].enrichment == deterministic_fake_model(
        "One fun fact about jakarta."
    )
    # per-key isolation: the failing key yields null + error, job survives
    assert out["FAIL"].enrichment is None
    assert "service 500" in out["FAIL"].enrich_error
