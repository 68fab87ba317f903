"""Float vs. native-histogram routing — per-window semantics pinned.

One fixture holds three series of the same metric: ``s="f"`` (only
float samples), ``s="h"`` (only native histograms) and ``s="m"``
(floats, then histograms, then floats again, then an interleaved
stretch), so the mixed series has all-float, all-histogram and mixed
windows.  Every range function of ``eval_range_function``'s dispatch,
the prefix and hybrid routes (thresholds forced to each side), anchored
and smoothed ``rate``, smoothed instant selectors and ``sum``/``avg``
aggregation run over it.

Two kinds of checks:

- golden: every answer equals ``kind_routing_golden.json`` (floats to a
  relative 1e-9, histograms by count/sum/buckets).  The file records the
  per-window semantics the engine implements — rate/increase/delta and
  sum/avg_over_time drop mixed windows, irate/idelta/resets/changes send
  any histogram-bearing window to the histogram algebra — independent of
  how the engine decides which series need the split.
  Regenerate with ``python tests/test_kind_routing.py`` only when those
  semantics change on purpose;
- route parity: forcing the prefix/as-of and hybrid thresholds to each
  side gives the same answer.
"""

from __future__ import annotations

import json
import math
import os
from pathlib import Path

import pytest

GOLDEN = Path(__file__).with_name("kind_routing_golden.json")
M = 10_000
START, END, STEP = 100_000, 590_000, 30_000


def _h(i: int) -> dict:
    return {
        "schema": 0, "zero_threshold": 0.001, "zero_count": float(i % 3),
        "count": float(2 * i + 4), "sum": 1.5 * (i + 1),
        "pos_spans": [{"offset": 0, "length": 2}],
        "pos_buckets": [float(i + 1), 1.0],
        "neg_spans": [], "neg_buckets": [],
        "custom_values": [], "counter_reset_hint": 0,
    }


def fixture_rows() -> list:
    rows = []
    v = 0.0
    for i in range(60):
        v += 3.0 + (i % 4)
        if i == 33:
            v = 1.0  # counter reset
        rows.append(({"__name__": "k", "s": "f"}, i * M, v))
        rows.append(({"__name__": "k", "s": "h"}, i * M, _h(i)))
        # m: floats (i < 20), histograms (20 ≤ i < 40), floats
        # (40 ≤ i < 50), then float and histogram samples interleaved
        if i < 20 or 40 <= i < 50:
            rows.append(({"__name__": "k", "s": "m"}, i * M, float(i * 2)))
        elif i < 40 or i % 2:
            rows.append(({"__name__": "k", "s": "m"}, i * M, _h(i)))
        else:
            rows.append(({"__name__": "k", "s": "m"}, i * M, float(i * 2)))
    return rows


# (query, prefix threshold, hist as-of threshold) — None keeps the default
RANGE_FUNCS = [
    "rate", "increase", "delta", "idelta", "irate", "resets", "changes",
    "deriv", "avg_over_time", "sum_over_time", "count_over_time",
    "min_over_time", "max_over_time", "first_over_time", "last_over_time",
    "stddev_over_time", "stdvar_over_time", "mad_over_time",
    "present_over_time", "ts_of_first_over_time", "ts_of_last_over_time",
    "ts_of_max_over_time", "ts_of_min_over_time",
]
QUERIES = (
    [f"{f}(k[60s])" for f in RANGE_FUNCS]
    + [
        "predict_linear(k[60s], 30)",
        "quantile_over_time(0.5, k[60s])",
        "double_exponential_smoothing(k[60s], 0.5, 0.5)",
        "rate(k[60s] anchored)", "increase(k[60s] smoothed)",
        "resets(k[60s] anchored)", "changes(k[60s] anchored)",
        "k smoothed",
        # an ungrouped sum mixes f and h at every step: dropped
        "sum(k)", "sum by (s) (k)", "avg by (s) (k)",
        "sum by (s) (rate(k[60s]))", "avg by (s) (sum_over_time(k[60s]))",
        "sum_over_time(rate(k[30s])[60s:10s])",
        "irate(k[60s:10s])",
        # a subquery keeps its input's sigs but not their kinds: h's
        # histogram_count is a float series
        "sum_over_time(histogram_count(k)[60s:10s])",
        "rate(histogram_count(k)[60s:10s])",
    ]
)
# prefix-eligible functions at a wide range/step ratio: each side of the
# threshold must agree
PREFIX_QUERIES = [
    f"{f}(k[300s])"
    for f in (
        "rate", "increase", "delta", "changes", "count_over_time",
        "last_over_time",
    )
]
HYBRID_QUERIES = ["rate(k[90s])", "increase(k[90s])", "delta(k[90s])"]
PREFIX_STEP = 10_000


def _hist_key(h) -> list:
    return [
        h["count"], h["sum"], h["zero_count"],
        [list(s) for s in (h["pos_spans"] or [])],
        list(h["pos_buckets"] or []),
    ]


def _rows(df) -> list:
    out = []
    for r in df.collect():
        h = r["hist"] if "hist" in r.__fields__ else None
        v = r["value"]
        if h is not None:
            out.append([r["labels"].get("s", ""), r["t"], "h", _hist_key(h)])
        else:
            out.append([
                r["labels"].get("s", ""), r["t"], "f",
                "NaN" if v is not None and math.isnan(v) else v,
            ])
    return sorted(out, key=lambda x: (x[0], x[1], x[2]))


def _engine(spark, samples):
    from prometheus_spark.engine import PromQLEngine

    # no plan cache: one route must not be handed the other route's plan
    return PromQLEngine(spark, samples, plan_cache_size=0)


def _query(engine, q, step, prefix=None, hist_asof=None):
    env = {
        "PROMSPARK_PREFIX_RANGE_THRESHOLD": prefix,
        "PROMSPARK_HIST_ASOF_THRESHOLD": hist_asof,
    }
    old = {k: os.environ.get(k) for k in env}
    try:
        for k, v in env.items():
            if v is not None:
                os.environ[k] = v
        return _rows(engine.range_query(q, START, END, step))
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _cases():
    for q in QUERIES:
        yield q, STEP, None, None
    for q in PREFIX_QUERIES:
        yield q, PREFIX_STEP, "1", None
        yield q, PREFIX_STEP, "99999999", None
    for q in HYBRID_QUERIES:
        yield q, STEP, "99999999", "1"
        yield q, STEP, "99999999", "99999999"


def _case_id(q, step, prefix, hist_asof) -> str:
    return f"{q}|step={step}|prefix={prefix}|hist_asof={hist_asof}"


def _close(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


@pytest.fixture(scope="module")
def engine(spark):
    from prometheus_spark.storage import samples_from_rows

    samples = samples_from_rows(spark, fixture_rows()).cache()
    yield _engine(spark, samples)
    samples.unpersist()


@pytest.fixture(scope="module")
def golden():
    return json.loads(GOLDEN.read_text())


@pytest.mark.parametrize(
    "case", list(_cases()), ids=[_case_id(*c) for c in _cases()]
)
def test_kind_routing_golden(engine, golden, case):
    got = _query(engine, *case)
    want = golden[_case_id(*case)]
    assert _close(got, want), (got, want)


@pytest.mark.parametrize("q", PREFIX_QUERIES + HYBRID_QUERIES)
def test_kind_routes_agree(golden, q):
    step = PREFIX_STEP if q in PREFIX_QUERIES else STEP
    if q in PREFIX_QUERIES:
        a = golden[_case_id(q, step, "1", None)]
        b = golden[_case_id(q, step, "99999999", None)]
    else:
        a = golden[_case_id(q, step, "99999999", "1")]
        b = golden[_case_id(q, step, "99999999", "99999999")]
    assert a and _close(a, b)


def test_mixed_window_semantics(golden):
    """The readable core of the golden file, on the mixed series ``m``:
    its windows ending inside the float stretch give floats, inside the
    histogram stretch histograms, and across a float/histogram boundary
    nothing for rate/sum_over_time — but a histogram for irate."""
    def kinds(q):
        return {
            t: kind for s, t, kind, _ in golden[_case_id(q, STEP, None, None)]
            if s == "m"
        }

    rate = kinds("rate(k[60s])")
    sot = kinds("sum_over_time(k[60s])")
    irate = kinds("irate(k[60s])")
    float_t, hist_t, border_t = 190_000, 310_000, 220_000
    for got in (rate, sot):
        assert got[float_t] == "f" and got[hist_t] == "h"
        assert border_t not in got  # (160 s, 220 s] holds both kinds
    assert irate[float_t] == "f" and irate[hist_t] == "h"
    assert irate[border_t] == "h"
    # the pure series answer at every step
    full = {t for t in range(START, END + 1, STEP)}
    for q in ("rate(k[60s])", "sum_over_time(k[60s])", "irate(k[60s])"):
        rows = golden[_case_id(q, STEP, None, None)]
        assert {t for s, t, k, _ in rows if s == "f" and k == "f"} == full
        assert {t for s, t, k, _ in rows if s == "h" and k == "h"} == full


if __name__ == "__main__":  # regenerate the golden file
    from pyspark.sql import SparkSession

    from prometheus_spark.storage import samples_from_rows

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    eng = _engine(spark, samples_from_rows(spark, fixture_rows()).cache())
    out = {_case_id(*c): _query(eng, *c) for c in _cases()}
    GOLDEN.write_text(
        "{\n"
        + ",\n".join(f"{json.dumps(k)}: {json.dumps(out[k])}" for k in sorted(out))
        + "\n}\n"
    )
    spark.stop()
