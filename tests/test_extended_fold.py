"""Extended-window (anchored/smoothed) rate family: Arrow fold parity.

Over pure-float series the router (range_functions.eval_matrix_range)
evaluates anchored/smoothed rate/increase/delta as a per-series fold
(``series_fold``) instead of the three-branch explode+union plan, which
histogram, mixed and @-pinned windows still take.  These tests pin exact
(float-repr) equality between the fold and a direct explode evaluation
(selectors.extended_windowed_samples + eval_range_function) on the
shapes where they can diverge: boundary interpolation, counter resets
across edges, lookback expiry, sparse series, offsets, NaN values, and
windows whose only contents are the two boundary rows.
"""

import pytest

from prometheus_spark.engine import PromQLEngine
from prometheus_spark.engine import range_functions as RF
from prometheus_spark.engine.selectors import extended_windowed_samples
from prometheus_spark.model.labels import sig_sql
from prometheus_spark.parser import parse_expr
from prometheus_spark.parser.ast import resolve_duration_ms
from prometheus_spark.storage import samples_from_rows

START, END, STEP = 0, 960_000, 30_000


@pytest.fixture(scope="module")
def samples(spark):
    rows = []
    # dense counter with a reset
    vals = [0, 5, 12, 3, 9, 15, 22, 2, 8, 30]
    for i, v in enumerate(vals):
        rows.append(({"__name__": "ctr", "i": "0"}, i * 60_000, float(v)))
    # sparse series: gaps larger than the range
    for t, v in [(0, 1.0), (420_000, 7.0), (440_000, 9.0), (900_000, 2.0)]:
        rows.append(({"__name__": "sp", "i": "0"}, t, v))
    # NaN-carrying series
    for i, v in enumerate([1.0, float("nan"), 4.0, 2.0, float("nan"), 8.0]):
        rows.append(({"__name__": "nn", "i": "0"}, i * 90_000, v))
    # two-sample series (boundary-only windows)
    rows.append(({"__name__": "two", "i": "0"}, 30_000, 10.0))
    rows.append(({"__name__": "two", "i": "0"}, 600_000, 20.0))
    return samples_from_rows(spark, rows).cache()


QUERIES = [
    "rate(ctr[2m] smoothed)",
    "rate(ctr[2m] anchored)",
    "increase(ctr[3m] smoothed)",
    "delta(ctr[2m] smoothed)",
    "rate(ctr[2m] smoothed offset 1m)",
    "rate(sp[2m] smoothed)",
    "increase(sp[5m] anchored)",
    "rate(nn[3m] smoothed)",
    "delta(nn[2m] anchored)",
    "rate(two[4m] smoothed)",
    "increase(two[8m] smoothed)",
]


def _explode(eng, query):
    """``fn(sel[r] anchored|smoothed [offset o])`` through the
    materialized extended windows and the explode's window math."""
    call = parse_expr(query)
    m = call.args[0]
    ctx = eng._ctx(START, END, STEP)
    qc = ctx.duration_vars()
    rng = resolve_duration_ms(m.range_ms, qc)
    off = resolve_duration_ms(m.selector.offset_ms, qc)
    w, dim = extended_windowed_samples(
        ctx, m.selector, rng, off, smoothed=m.smoothed
    )
    vf = RF.eval_range_function(
        ctx, call.func, w, rng,
        mode="smoothed" if m.smoothed else "anchored", dim=dim, stored=True,
    )
    return eng._finalize_vf(vf, num_steps=ctx.num_steps)


def _rows(df):
    return [
        (r["sig"], r["l"], r["t"], repr(r["value"]))
        for r in df.selectExpr(
            "sig", sig_sql("labels") + " AS l", "t", "value"
        ).collect()
    ]


@pytest.mark.parametrize("query", QUERIES)
def test_fold_matches_explode(spark, samples, query):
    eng = PromQLEngine(spark, samples)
    fold = eng.range_query(query, START, END, STEP)
    assert "series_fold" in fold._jdf.queryExecution().executedPlan().toString()
    assert _rows(fold) == _rows(_explode(eng, query))
