"""The route table of ``range_functions.eval_matrix_range`` — pinned by plan.

The router picks one route per kind part of a range function over a
matrix selector (pure-float series, pure-histogram series, mixed
series).  Which series fall into which part is decided at run time (a
join against the series dim), so a plan carries the route of every part
the store can hold: a float-only store plans only the float route, a
store holding any histogram plans the histogram part's route and the
mixed part's explode too.  Each case below builds a query plan and
checks that the set of route markers in it is exactly the one the table
gives:

- ``series_stats``: the prefix fold (floats);
- ``series_fold``: the anchored/smoothed fold (floats);
- ``des_series``: the double_exponential_smoothing fold (all floats);
- ``rate_asof``: the histogram as-of ``mapInArrow`` stage;
- explode: the window explode (``Generate explode``, or the grid
  cross join of an ``@``-pinned window).

Thresholds stay at their defaults: prefix 24, histogram as-of 4.
"""

from __future__ import annotations

import pytest

from tests.test_kind_routing import END, START, STEP, fixture_rows

PREFIX_THR, HIST_ASOF_THR = 24, 4
FUNCS = {
    # fn: modes it accepts besides plain and @
    "rate": ("anchored", "smoothed"),
    "resets": ("anchored",),
    "count_over_time": (),
    "sum_over_time": (),
    "double_exponential_smoothing": (),
    "absent_over_time": (),
}
PREFIX = {"rate", "resets", "count_over_time", "absent_over_time"}
# range // step for the range queries: below the histogram as-of
# threshold, between the two thresholds, above the prefix threshold;
# None is an instant query
RATIOS = (2, 5, 30, None)
STORES = ("float", "histogram", "mixed")


def _query(fn: str, mode: str, ratio) -> str:
    rng = (ratio or 2) * STEP // 1000
    sel = f"k[{rng}s]"
    if mode in ("anchored", "smoothed"):
        sel += f" {mode}"
    elif mode == "@":
        sel += " @ 300"
    if fn == "double_exponential_smoothing":
        return f"{fn}({sel}, 0.5, 0.5)"
    return f"{fn}({sel})"


def expected(fn: str, mode: str, ratio, store: str) -> set:
    """The table: route markers the plan of ``fn`` over the selector
    must show, and no others."""
    plain = mode == "plain"
    instant = ratio is None
    if fn == "double_exponential_smoothing":
        # ignores kinds; instant queries clear any threshold
        wide = instant or ratio >= PREFIX_THR
        return {"des_series"} if plain and wide else {"explode"}
    if plain and fn in PREFIX and not instant and ratio >= PREFIX_THR:
        float_route = "series_stats"
    elif mode in ("anchored", "smoothed") and fn == "rate":
        float_route = "series_fold"
    else:
        float_route = "explode"
    if store == "float":
        return {float_route}
    hist_asof = plain and fn == "rate" and (
        float_route == "series_stats"
        or (not instant and ratio >= HIST_ASOF_THR)
    )
    # mixed series always take the explode
    return {float_route, "rate_asof" if hist_asof else "explode", "explode"}


def _markers(plan: str) -> set:
    found = {
        m for m in ("series_stats", "series_fold", "des_series", "rate_asof")
        if m in plan
    }
    if "Generate explode" in plan or "BroadcastNestedLoopJoin" in plan:
        found.add("explode")
    return found


def _cases():
    for fn, modes in FUNCS.items():
        for mode in ("plain", *modes, "@"):
            for ratio in RATIOS:
                for store in STORES:
                    yield fn, mode, ratio, store


@pytest.fixture(scope="module")
def engines(spark):
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import samples_from_rows

    rows = fixture_rows()
    frames = {
        "float": samples_from_rows(spark, [r for r in rows if r[0]["s"] == "f"]),
        "histogram": samples_from_rows(spark, [r for r in rows if r[0]["s"] == "h"]),
        "mixed": samples_from_rows(spark, rows),
    }
    return {
        k: PromQLEngine(spark, df.cache(), plan_cache_size=0)
        for k, df in frames.items()
    }


@pytest.mark.parametrize(
    "fn,mode,ratio,store", list(_cases()),
    ids=lambda v: "instant" if v is None else str(v),
)
def test_route_table(engines, fn, mode, ratio, store):
    eng = engines[store]
    q = _query(fn, mode, ratio)
    if ratio is None:
        df = eng.instant_query(q, END)
    else:
        df = eng.range_query(q, START, END, STEP)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _markers(plan) == expected(fn, mode, ratio, store), q


@pytest.mark.parametrize("q", [
    "sum_over_time(k[60s] anchored)",
    "count_over_time(k[60s] smoothed)",
    "double_exponential_smoothing(k[60s] anchored, 0.5, 0.5)",
    "absent_over_time(k[60s] smoothed)",
])
def test_modifier_rejected(engines, q):
    from prometheus_spark.engine.aggregations import PromQLEvalError

    with pytest.raises(PromQLEvalError, match="modifier"):
        engines["float"].range_query(q, START, END, STEP)
