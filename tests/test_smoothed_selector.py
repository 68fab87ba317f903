"""Instant ``smoothed`` selector: steps that must answer.

Semantics (engine.go ``smoothSeries``): at each step the value is the
sample on the step if one exists, else the linear interpolation between
the surrounding samples when both lie within the lookback, else the
preceding sample carried forward.  A step whose lookback window mixes
float and histogram samples is skipped; a float-only window answers with
float math even on a series that holds histograms elsewhere.
"""

from __future__ import annotations

import pytest

from prometheus_spark.engine import PromQLEngine
from prometheus_spark.storage import samples_from_rows
from tests.test_kind_routing import END, START, STEP, fixture_rows


def _answers(df) -> dict:
    return {r["t"]: r["value"] for r in df.collect()}


def test_mixed_series_keeps_float_only_steps(spark):
    """``k{s="m"}`` holds floats at 0–190 s and 400–490 s (value 2·i at
    i·10 s) with histograms between.  At a 30 s lookback the steps 100,
    130, 160, 430 and 460 s see only floats, each with a sample exactly
    on the step; 190 s and 490 s see both kinds and stay skipped."""
    samples = samples_from_rows(spark, fixture_rows())
    eng = PromQLEngine(spark, samples, lookback_ms=30_000, plan_cache_size=0)
    got = _answers(eng.range_query('k{s="m"} smoothed', START, END, STEP))
    for t in (100_000, 130_000, 160_000, 430_000, 460_000):
        assert got.get(t) == 2.0 * (t // 10_000), (t, got)
    assert 190_000 not in got and 490_000 not in got


def test_mixed_series_float_interpolation_matches_pure_float(spark):
    """Off-sample steps of a float-only window interpolate (next sample
    within the lookback) or carry forward exactly as for a pure-float
    series: the mixed series' float stretch answers like its float twin."""
    h = fixture_rows()[1][2]  # any histogram sample
    rows, twin = [], []
    for i in range(20):
        rows.append(({"__name__": "x", "s": "m"}, i * 10_000 + 5_000, float(i * i)))
        twin.append(({"__name__": "x", "s": "f"}, i * 10_000 + 5_000, float(i * i)))
    rows.append(({"__name__": "x", "s": "m"}, 400_000, h))
    eng = PromQLEngine(
        spark, samples_from_rows(spark, rows + twin),
        lookback_ms=30_000, plan_cache_size=0,
    )
    got = {
        (r["labels"]["s"], r["t"]): r["value"]
        for r in eng.range_query("x smoothed", 20_000, 300_000, 20_000).collect()
    }
    float_steps = {t for s, t in got if s == "f"}
    assert float_steps  # interpolated and carried-forward steps
    for t in float_steps:
        assert got.get(("m", t)) == got[("f", t)], t


def test_first_step_answers(spark):
    """Pure-float ``k`` every 10 s from 0, range 60–540 s at a 60 s step
    with a 30 s lookback: the first step sits on a sample and answers."""
    rows = [({"__name__": "k"}, i * 10_000, float(i)) for i in range(60)]
    eng = PromQLEngine(
        spark, samples_from_rows(spark, rows),
        lookback_ms=30_000, plan_cache_size=0,
    )
    got = _answers(eng.range_query("k smoothed", 60_000, 540_000, 60_000))
    assert sorted(got) == list(range(60_000, 540_001, 60_000))
    assert got[60_000] == 6.0


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
