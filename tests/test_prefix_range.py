"""Prefix/as-of fast path for range functions — differential parity.

The prefix fold (range_functions._prefix_fold, picked by
eval_matrix_range at wide range/step ratios) must be bit-identical to the windowed-explode path for every function in
PREFIX_RANGE_FUNCS, on data with counter resets, gaps, NaNs, offsets,
and empty/single-sample windows.

Pitfall encoded here: each side gets a FRESH PromQLEngine — the plan
cache is keyed by (query, grid) and would otherwise hand the second run
the first run's plan, comparing the fast path against itself."""

import math
import os

import pytest

from prometheus_spark.engine import PromQLEngine
from prometheus_spark.storage import samples_from_rows

M = 10_000


@pytest.fixture(scope="module")
def samples(spark):
    import random

    random.seed(7)
    rows = []
    v1 = v2 = 0.0
    for i in range(120):
        v1 += random.random() * 10
        if random.random() < 0.06:
            v1 = random.random()  # counter reset
        rows.append(({"__name__": "c", "l": "a"}, i * M, round(v1, 3)))
        if i % 3 != 1:  # gaps
            v2 += random.random() * 5
            if random.random() < 0.1:
                v2 = 0.0
            rows.append(({"__name__": "c", "l": "b"}, i * M, round(v2, 3)))
        if i % 2 == 0:
            v = float("nan") if random.random() < 0.08 else random.gauss(0, 5)
            rows.append(({"__name__": "g"}, i * M, v))
    for i in (0, 40, 41, 115):  # sparse: empty and 1-sample windows
        rows.append(({"__name__": "sp"}, i * M, float(i)))
    return samples_from_rows(spark, rows).cache()


QUERIES = [
    "rate(c[300s])", "increase(c[300s])", "delta(c[300s])",
    "delta(g[300s])", "changes(c[250s])", "resets(c[250s])",
    "count_over_time(c[170s])", "present_over_time(g[90s])",
    "last_over_time(c[130s])", "first_over_time(g[110s])",
    "ts_of_last_over_time(c[300s])", "ts_of_first_over_time(c[300s])",
    "rate(c[300s] offset 50s)", "rate(sp[100s])",
    "count_over_time(sp[30s])", "changes(sp[500s])",
    "increase(sp[60s] offset 7s)",
]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return round(v, 9)


def _run(spark, samples, q, threshold):
    os.environ["PROMSPARK_PREFIX_RANGE_THRESHOLD"] = threshold
    try:
        df = PromQLEngine(spark, samples).range_query(
            q, 100_000, 1_150_000, 30_000
        )
        return sorted(
            (r["sig"], r["t"], _norm(r["value"])) for r in df.collect()
        )
    finally:
        os.environ.pop("PROMSPARK_PREFIX_RANGE_THRESHOLD", None)


@pytest.mark.parametrize("q", QUERIES)
def test_prefix_matches_explode(spark, samples, q):
    fast = _run(spark, samples, q, "1")
    slow = _run(spark, samples, q, "99999999")
    assert fast == slow


def test_default_gate_uses_fast_path_on_wide_ratio(spark, samples):
    """range/step = 100 ≥ default threshold → the plan must NOT contain
    the window explode (no per-sample sequence/explode duplication)."""
    eng = PromQLEngine(spark, samples)
    df = eng.range_query("rate(c[1000s])", 100_000, 1_150_000, 10_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # fast-path signature: the Arrow stats fold (series_stats grouped-map)
    fast_marker = "series_stats" in plan
    assert "Generate explode" not in plan or fast_marker
    assert fast_marker

    df2 = eng.range_query("rate(c[50s])", 100_000, 1_150_000, 10_000)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    # narrow ratio stays on explode
    assert "series_stats" not in plan2 and "cum_drop" not in plan2


DES_QUERIES = [
    "double_exponential_smoothing(c[300s], 0.3, 0.2)",
    "double_exponential_smoothing(g[250s], 0.5, 0.5)",
    "double_exponential_smoothing(sp[500s], 0.1, 0.9)",
    "double_exponential_smoothing(c[170s] offset 50s, 0.4, 0.1)",
    "double_exponential_smoothing(sp[30s], 0.6, 0.3)",  # all-sparse: <2-sample windows drop
]


ABSENT_QUERIES = [
    "absent_over_time(c[300s])",
    "absent_over_time(sp[30s])",       # sparse: mostly-absent windows
    "absent_over_time(g[90s])",        # gappy gauge
    "absent_over_time(sp[60s] offset 7s)",
    "absent_over_time(nosuch[120s])",  # nothing matches: all-absent
]


@pytest.mark.parametrize("q", ABSENT_QUERIES)
def test_absent_over_time_prefix_parity(spark, samples, q):
    """absent_over_time routed through present_over_time's prefix path
    must match the windowed-explode evaluation exactly."""
    fast = _run(spark, samples, q, "1")
    slow = _run(spark, samples, q, "99999999")
    assert fast == slow


@pytest.mark.parametrize("q", DES_QUERIES)
def test_des_asof_parity(spark, samples, q):
    """The DES fold (range_functions._des_fold) must be bit-identical to the windowed-explode fold
    (same IEEE op order — see the docstring's recurrence mapping)."""
    fast = _run(spark, samples, q, "1")
    slow = _run(spark, samples, q, "99999999")
    assert fast == slow


def test_des_default_gate(spark, samples):
    """Wide range/step ratio routes DES through applyInPandas (no window
    explode in the plan); narrow ratio stays on the explode path."""
    eng = PromQLEngine(spark, samples)
    df = eng.range_query(
        "double_exponential_smoothing(c[1000s], 0.3, 0.2)",
        100_000, 1_150_000, 10_000,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan

    df2 = eng.range_query(
        "double_exponential_smoothing(c[50s], 0.3, 0.2)",
        100_000, 1_150_000, 10_000,
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan2


@pytest.fixture(scope="module")
def hist_samples(spark):
    """Pure-histogram series with counter resets, STs, gaps, and schema
    changes — the shapes that exercise every hist_rate branch."""
    from prometheus_spark.storage import samples_from_rows

    def h(i, schema=1, count=None):
        c = float(count if count is not None else 12 + i * 9)
        return {
            "schema": schema, "zero_threshold": 0.001, "zero_count": 2.0 + i,
            "count": c, "sum": 18.4 * (i + 1),
            "pos_spans": [{"offset": 0, "length": 2}, {"offset": 1, "length": 2}],
            "pos_buckets": [float(i + 1), float(i + 2), float(i + 1), float(i + 1)],
            "neg_spans": [{"offset": 0, "length": 2}],
            "neg_buckets": [1.0, float(i % 3 + 1)],
            "custom_values": [], "counter_reset_hint": 0,
        }

    rows = []
    for i in range(60):
        # hc: counter with resets at i=20 (count drop) and i=45
        ci = i if i < 20 else (i - 20 if i < 45 else i - 45)
        rows.append(({"__name__": "hc", "l": "a"}, i * M, h(ci)))
        # hs: schema change mid-stream (schema 2 for i in 25..35)
        if i % 2 == 0:
            rows.append(
                ({"__name__": "hs"}, i * M, h(i, schema=2 if 25 <= i <= 35 else 1))
            )
        # hst: with start timestamps implying resets
        rows.append(
            ({"__name__": "hst"}, i * M,
             h(i % 17), (i // 17) * 17 * M)
        )
    # hsp: sparse — empty, 1-sample, 2-sample windows
    for i in (0, 30, 31, 58):
        rows.append(({"__name__": "hsp"}, i * M, h(i)))
    return samples_from_rows(spark, rows).cache()


HIST_QUERIES = [
    "rate(hc[300s])", "increase(hc[300s])", "delta(hc[300s])",
    "rate(hs[250s])", "increase(hst[300s])", "rate(hst[170s])",
    "rate(hsp[100s])", "increase(hsp[400s] offset 30s)",
    "rate(hc[1000s])",
]


def _run_hist(spark, samples, q, threshold):
    os.environ["PROMSPARK_PREFIX_RANGE_THRESHOLD"] = threshold
    try:
        df = PromQLEngine(spark, samples).range_query(
            q, 100_000, 590_000, 30_000
        )
        return sorted(
            (r["sig"], r["t"], repr(r["hist"])) for r in df.collect()
        )
    finally:
        os.environ.pop("PROMSPARK_PREFIX_RANGE_THRESHOLD", None)


@pytest.mark.parametrize("q", HIST_QUERIES)
def test_hist_rate_asof_parity(spark, hist_samples, q):
    """window_rate_asof must be bit-identical to the windowed-explode
    hist rate (same op sequence per window — see its docstring)."""
    fast = _run_hist(spark, hist_samples, q, "1")
    slow = _run_hist(spark, hist_samples, q, "99999999")
    assert fast == slow
    assert fast, q  # non-empty: the fixture covers every query


def test_hist_rate_asof_mixed_series_stay_on_explode(spark):
    """A series with BOTH float and histogram samples must produce the
    explode path's per-window float/mixed routing under the fast path."""
    from prometheus_spark.storage import samples_from_rows

    def h(i):
        return {
            "schema": 1, "zero_threshold": 0.001, "zero_count": 1.0,
            "count": float(i + 3), "sum": 2.2 * (i + 1),
            "pos_spans": [{"offset": 0, "length": 1}],
            "pos_buckets": [float(i + 1)],
            "neg_spans": [], "neg_buckets": [],
            "custom_values": [], "counter_reset_hint": 0,
        }

    rows = []
    for i in range(40):
        # floats for i<15, histograms after: early windows all-float,
        # late all-hist, the boundary mixed (dropped)
        rows.append(({"__name__": "mx"}, i * M, h(i) if i >= 15 else float(i)))
    samples = samples_from_rows(spark, rows)
    fast = _run_hist(spark, samples, "rate(mx[120s])", "1")
    slow = _run_hist(spark, samples, "rate(mx[120s])", "99999999")
    assert fast == slow and fast


@pytest.mark.parametrize("q", [
    "rate(hc[120s])", "increase(hst[150s])", "delta(hs[120s])",
    "rate(hsp[120s])",
])
def test_hist_rate_hybrid_parity(spark, hist_samples, q):
    """At explode-favoring ratios (below prefix_threshold), pure-hist
    series take the as-of route (hist_arith.window_rate_asof) while
    floats and mixed series keep the explode; the result must equal the
    pure explode evaluation."""
    os.environ["PROMSPARK_PREFIX_RANGE_THRESHOLD"] = "99999999"
    try:
        os.environ["PROMSPARK_HIST_ASOF_THRESHOLD"] = "1"
        hybrid = sorted(
            (r["sig"], r["t"], repr(r["hist"]))
            for r in PromQLEngine(spark, hist_samples)
            .range_query(q, 100_000, 590_000, 30_000).collect()
        )
        os.environ["PROMSPARK_HIST_ASOF_THRESHOLD"] = "99999999"
        explode = sorted(
            (r["sig"], r["t"], repr(r["hist"]))
            for r in PromQLEngine(spark, hist_samples)
            .range_query(q, 100_000, 590_000, 30_000).collect()
        )
    finally:
        os.environ.pop("PROMSPARK_PREFIX_RANGE_THRESHOLD", None)
        os.environ.pop("PROMSPARK_HIST_ASOF_THRESHOLD", None)
    assert hybrid == explode and hybrid
