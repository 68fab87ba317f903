"""Range-vector functions — per-series sliding-window aggregates.

The crown jewels: ``rate``/``increase``/``delta`` must reproduce the
reference's counter-reset correction + window-edge extrapolation exactly
(promql/functions.go:452-620 ``extrapolatedRate``).  Re-derived semantics:

- window is left-open ``(ts - range, ts]``; ≥ 2 samples required
- raw delta = last − first, plus at each counter reset (value drop) the
  pre-reset value is added back (counters restart near 0)
- the delta is extrapolated outward to the window edges, but by at most
  half the average sample spacing on each side unless the edge is closer
  than ``1.1 × avg_spacing``; for counters, extrapolation to the left is
  clamped at the implied zero-crossing
- ``rate`` divides by the window length in seconds

Spark-first execution: samples explode to the step windows they fall in
(bounded ``range/step`` duplication), a lag window computes reset
corrections, and a single ``groupBy(sig, t)`` computes all the order
statistics (first/last via ``min_by``/``max_by``) — whole-stage codegen
throughout, no Python in the hot path.  The extrapolation itself is pure
column arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prometheus_spark.engine.aggregations import PromQLEvalError
from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.values import ConstScalar, VectorFrame

def _NAN():  # lazily built: F.lit needs an active SparkContext
    return F.lit(float("nan"))

# functions implemented on the windowed-sample frame (sig, labels, t=step, sample_t, value)
RANGE_FUNCTIONS = frozenset(
    {
        "rate", "increase", "delta", "idelta", "irate", "resets", "changes",
        "deriv", "predict_linear",
        "avg_over_time", "sum_over_time", "count_over_time", "min_over_time",
        "max_over_time", "first_over_time", "last_over_time",
        "quantile_over_time", "stddev_over_time", "stdvar_over_time",
        "mad_over_time", "present_over_time",
        "ts_of_first_over_time", "ts_of_last_over_time",
        "ts_of_max_over_time", "ts_of_min_over_time",
        "double_exponential_smoothing",
    }
)

# range functions that keep the metric name (none do; all drop __name__)
_KEEPS_NAME = frozenset({"last_over_time", "first_over_time"})


_ANCHORED_SAFE = frozenset({"resets", "changes", "rate", "increase", "delta"})
_SMOOTHED_SAFE = frozenset({"rate", "increase", "delta"})
# functions whose windows route by float/histogram kind (split_kinds)
_KIND_SPLIT_FUNCS = frozenset(
    {
        "rate", "increase", "delta", "sum_over_time", "avg_over_time",
        "idelta", "irate", "resets", "changes",
    }
)


# ---------------------------------------------------------------------
# prefix/as-of fast path (O(samples + series×steps), no range/step
# explode) — functions whose window statistics decompose into prefix
# sums + the window's first/last sample.  sum/avg_over_time stay on the
# explode path: a cumulative-difference sum can cancel catastrophically
# where a direct window sum cannot.
PREFIX_RANGE_FUNCS = frozenset(
    {
        "rate", "increase", "delta", "changes", "resets",
        "count_over_time", "present_over_time",
        "first_over_time", "last_over_time",
        "ts_of_first_over_time", "ts_of_last_over_time",
    }
)


def prefix_threshold() -> int:
    """Minimum range/step ratio for the fast path.  Below it, the
    explode path's duplication factor is small and its single shuffle
    wins; above it, the explode factor dominates (a [1d] window on a 10s
    step duplicates every sample 8640×).  Measured crossover on the
    reference macro-bench shapes (27M samples, local[32]): ratio 6 →
    explode wins (1.5 vs 1.9 s), ratio 30 → prefix wins 2×
    (``histogram_quantile(0.9, rate(h_hundred[5m]))`` steps=1000:
    17.9 → 9.2 s); 24 splits the gap with margin toward explode, whose
    worst case is bounded (dup ≤ ratio) while the prefix probe count
    (2·series·steps) is density-blind.  Override for testing with
    PROMSPARK_PREFIX_RANGE_THRESHOLD."""
    import os

    return int(os.environ.get("PROMSPARK_PREFIX_RANGE_THRESHOLD", "24"))


def eval_range_function(
    ctx: EvalContext,
    func: str,
    windowed: DataFrame,
    range_ms: int,
    param=None,
    param2=None,
    mode: str = None,
    dim: DataFrame = None,
    stored: bool = False,
) -> VectorFrame:
    """windowed: (sig, t, sample_t, value) — one row per sample per
    step window, labels-free (split frame contract; ``dim`` carries the
    per-series labels and passes through untouched — range functions
    never change a labelset, only the drop_name flag).  ``mode`` selects
    the experimental anchored/smoothed semantics (boundary samples
    included, no extrapolation — functions.go:309 ``extendedRate``).
    ``stored`` says the windows hold rows of the samples frame itself,
    whose per-series kinds the engine series dim knows (split_kinds).
    The histogram branches feed hist_arith's sig-native folds directly
    (round 12) — no labels join on either side of the fold."""
    if mode is not None:
        safe = _SMOOTHED_SAFE if mode == "smoothed" else _ANCHORED_SAFE
        if func not in safe:
            raise PromQLEvalError(
                f"{mode} modifier can only be used with: "
                f"{', '.join(sorted(safe))} - not with {func}"
            )
        floats, hists, mixed = split_kinds(ctx, windowed, stored, per_window=True)
        if func in ("rate", "increase", "delta"):
            out = _extended_delta(
                ctx, floats, range_ms,
                is_counter=func != "delta", is_rate=func == "rate",
                smoothed=mode == "smoothed",
            )
            if hists is not None:
                from prometheus_spark.engine import hist_arith

                out = _union_hist(
                    out,
                    hist_arith.window_extended_rate(
                        ctx, hists, range_ms,
                        is_counter=func != "delta", is_rate=func == "rate",
                        smoothed=mode == "smoothed",
                    ),
                )
        else:  # resets / changes over the materialized extended window
            out = _resets_changes(ctx, floats, func)
            if hists is not None:
                from prometheus_spark.engine import hist_arith

                out = _union_hist(
                    out,
                    hist_arith.window_resets_changes(
                        ctx, hists.unionByName(mixed), func
                    ),
                )
        return VectorFrame(fact=out, dim=dim)
    # windows may contain histogram samples (value NULL, hist non-null):
    # rate/sum/avg aggregate all-histogram windows through the histogram
    # algebra and drop mixed windows (reference warns); irate/idelta/
    # resets/changes send every histogram-bearing window to the
    # histogram algebra; other float functions compute over the float
    # samples; count/present see all.
    floats_only = windowed.filter(F.col("value").isNotNull())
    if func in _KIND_SPLIT_FUNCS:
        floats, hists, mixed = split_kinds(ctx, windowed, stored, per_window=True)
        floats = floats.filter(F.col("value").isNotNull())
    if func in ("rate", "increase", "delta"):
        out = _extrapolated(ctx, floats, range_ms, is_counter=func != "delta", is_rate=func == "rate")
        if hists is not None:
            from prometheus_spark.engine import hist_arith

            out_h = hist_arith.window_rate(
                ctx, hists, range_ms,
                is_counter=func != "delta", is_rate=func == "rate",
            )
            out = _union_hist(out, out_h)
    elif func in ("sum_over_time", "avg_over_time"):
        out = _simple_over_time(ctx, floats, func)
        if hists is not None:
            from prometheus_spark.engine import hist_arith

            out_h = hist_arith.group_sum(
                ctx,
                hists.select("sig", "t", "hist", "sample_t"),
                avg=func == "avg_over_time",
                drop_name=True,
                order_col="sample_t",
            )
            out = _union_hist(out, out_h)
    elif func in ("first_over_time", "last_over_time") and hist_possible(ctx, windowed):
        out = _first_last_hist(ctx, windowed, func)
    elif func in ("ts_of_first_over_time", "ts_of_last_over_time"):
        # histogram samples count for the first/last timestamps too
        out = _simple_over_time(ctx, windowed, func)
    elif func in ("idelta", "irate", "resets", "changes"):
        if func in ("idelta", "irate"):
            out = _instant_pair(ctx, floats, is_rate=func == "irate")
        else:
            out = _resets_changes(ctx, floats, func)
        if hists is not None:
            from prometheus_spark.engine import hist_arith

            hw = hists.unionByName(mixed)
            if func in ("idelta", "irate"):
                out_h = hist_arith.window_instant_pair(ctx, hw, is_rate=func == "irate")
            else:
                out_h = hist_arith.window_resets_changes(ctx, hw, func)
            out = _union_hist(out, out_h)
    elif func in ("deriv", "predict_linear"):
        out = _linreg(ctx, floats_only, param)
    elif func == "double_exponential_smoothing":
        out = _holt_winters(ctx, floats_only, param, param2)
    elif func == "quantile_over_time":
        out = _quantile_over_time(ctx, floats_only, param)
    elif func in ("count_over_time", "present_over_time"):
        out = _simple_over_time(ctx, windowed, func)
    else:
        out = _simple_over_time(ctx, floats_only, func)
    return VectorFrame(fact=out, dim=dim)


def _grouped(windowed: DataFrame):
    return windowed.groupBy("sig", "t")


def _union_hist(float_out: DataFrame, hist_out: DataFrame) -> DataFrame:
    """Union a float-only result frame with a hist-carrying one."""
    from prometheus_spark.model.schema import HISTOGRAM_TYPE

    if "labels" in hist_out.columns:
        hist_out = hist_out.drop("labels")
    if "hist" not in float_out.columns:
        float_out = float_out.withColumn("hist", F.lit(None).cast(HISTOGRAM_TYPE))
    if "hist" not in hist_out.columns:
        hist_out = hist_out.withColumn("hist", F.lit(None).cast(HISTOGRAM_TYPE))
    return float_out.unionByName(hist_out)


def _first_last_hist(ctx: EvalContext, windowed: DataFrame, func: str) -> DataFrame:
    """first/last_over_time returning real samples — histograms included,
    metric name kept (funcLastOverTime keeps DropName unset)."""
    pick = F.struct("sample_t", "value", "hist")
    agg = F.max(pick) if func == "last_over_time" else F.min(pick)
    flag_agg = (
        [F.bool_or("drop_name").alias("drop_name")]
        if "drop_name" in windowed.columns
        else []
    )
    out = _grouped(windowed).agg(agg.alias("__p"), *flag_agg)
    if "drop_name" not in out.columns:
        out = out.withColumn("drop_name", F.lit(False))
    return out.select(
        "sig",
        "t",
        F.col("t").alias("sample_t"),
        F.col("__p")["value"].alias("value"),
        F.col("__p")["hist"].alias("hist"),
        "drop_name",
    )


def _finish(df: DataFrame, ctx: EvalContext = None, keep_name: bool = False) -> DataFrame:
    # delayed name removal: labels stay intact; meaning-changing range
    # functions set the drop flag and the engine's finalization strips
    # metadata labels + runs the duplicate-labelset check ONCE — the old
    # per-function guard window (a shuffle per call) is gone.
    if keep_name:
        flag = F.col("drop_name") if "drop_name" in df.columns else F.lit(False)
    else:
        flag = F.lit(True)
    return df.select(
        "sig",
        "t",
        F.col("t").alias("sample_t"),
        F.col("value").cast("double").alias("value"),
        flag.alias("drop_name"),
    )


def _simple_over_time(ctx: EvalContext, windowed: DataFrame, func: str) -> DataFrame:
    from prometheus_spark.engine.aggregations import (
        _INF_SQL,
        _NAN_SQL,
        avg_sql,
        kahan_sum_sql,
        quantile_sql,
        sorted_values_sql,
    )

    masked = "(CASE WHEN NOT isnan(value) THEN value END)"
    aggs = {
        # Kahan-compensated in the reference (functions.go:1218); plain
        # sums in scalable mode, array-fold Kahan in corpus (kahan) mode
        "sum_over_time": kahan_sum_sql("value") if ctx.kahan else "sum(value)",
        "avg_over_time": avg_sql("value", kahan=ctx.kahan),
        "count_over_time": "CAST(count(1) AS DOUBLE)",  # histograms count too
        # min/max skip NaN unless all values are NaN (functions.go:1558-1565)
        "min_over_time": f"coalesce(min({masked}), {_NAN_SQL})",
        "max_over_time": f"coalesce(max({masked}), {_NAN_SQL})",
        "first_over_time": "min_by(value, sample_t)",
        "last_over_time": "max_by(value, sample_t)",
        "stddev_over_time": f"coalesce(stddev_pop(value), {_NAN_SQL})",
        "stdvar_over_time": f"coalesce(var_pop(value), {_NAN_SQL})",
        "present_over_time": "1.0D",
        "ts_of_first_over_time": "min(sample_t) / 1000.0D",
        "ts_of_last_over_time": "max(sample_t) / 1000.0D",
        # on ties, latest timestamp wins (functions.go:1469-1522)
        "ts_of_max_over_time": (
            "max(CASE WHEN NOT isnan(value) THEN "
            "struct(value, sample_t) END).sample_t / 1000.0D"
        ),
        "ts_of_min_over_time": (
            "min(CASE WHEN NOT isnan(value) THEN "
            "named_struct('value', value, 'sample_t', -sample_t) END)"
            ".sample_t * -0.001D"
        ),
    }
    if func == "mad_over_time":
        # median-of-|x − median|, both medians with the reference's exact
        # NaN-first order statistics (functions.go:1438) — NaN anywhere in
        # the window propagates.
        med = _grouped(windowed).agg(
            F.expr(
                quantile_sql(sorted_values_sql("value"), "0.5D")
            ).alias("__med"),
        )
        joined = windowed.join(med.select("sig", "t", "__med"), ["sig", "t"])
        out = joined.groupBy("sig", "t").agg(
            F.expr(
                # a NaN sample makes the median undefined → propagate
                # (functions.go funcMadOverTime)
                f"CASE WHEN max(CAST(isnan(value) AS INT)) = 1 THEN {_NAN_SQL} "
                f"ELSE {quantile_sql(sorted_values_sql('abs(value - __med)'), '0.5D')} "
                "END"
            ).alias("value"),
        )
        return _finish(out, ctx)
    if func not in aggs:
        raise PromQLEvalError(f"unsupported over_time function {func}")
    flag_agg = (
        [F.expr("bool_or(drop_name)").alias("drop_name")]
        if "drop_name" in windowed.columns
        else []
    )
    out = _grouped(windowed).agg(
        F.expr(f"CAST({aggs[func]} AS DOUBLE)").alias("value"),
        *flag_agg,
    )
    # first/last_over_time return real samples — the metric name survives
    # (reference: funcLastOverTime keeps DropName unset)
    return _finish(out, ctx, keep_name=func in _KEEPS_NAME)


def _quantile_over_time(ctx: EvalContext, windowed: DataFrame, param) -> DataFrame:
    from prometheus_spark.engine.aggregations import (
        float_sql,
        quantile_sql,
        sorted_values_sql,
    )
    from prometheus_spark.engine.values import ScalarFrame

    arr = F.expr(sorted_values_sql("value")).alias("__arr")
    if isinstance(param, ConstScalar):
        grouped = _grouped(windowed).agg(arr)
        phi = float_sql(float(param.value))
    elif isinstance(param, ScalarFrame):
        p = param.df.withColumnRenamed("value", "__phi")
        grouped = (
            windowed.join(F.broadcast(p), "t", "left")
            .groupBy("sig", "t")
            .agg(
                arr,
                F.expr("first(__phi)").alias("__p"),
            )
        )
        phi = "__p"
    else:
        raise PromQLEvalError("quantile_over_time: unsupported parameter type")
    out = grouped.selectExpr(
        "sig", "t", quantile_sql("__arr", phi) + " AS value"
    )
    return _finish(out, ctx)


def _st_reset_sql(prev_st: str, prev_t: str, cur_st: str, cur_t: str) -> str:
    """SQL-string form of :func:`_st_reset_expr` (functions.go:760)."""
    pst = f"coalesce({prev_st}, 0L)"
    cst = f"coalesce({cur_st}, 0L)"
    return (
        f"(CASE WHEN {cst} = 0 OR {cst} >= {cur_t} THEN false "
        f"WHEN {cst} < {prev_t} THEN false "
        f"WHEN {cst} > {prev_t} THEN true "
        f"WHEN {pst} > {prev_t} THEN false "
        f"ELSE ({pst} != 0 AND {pst} != {prev_t}) END)"
    )


def _st_reset_expr(prev_st, prev_t, cur_st, cur_t):
    """isStartTimestampReset (functions.go:760): a counter reset implied
    by start timestamps.  ST==0/NULL means unset; ST >= T is invalid;
    currST > prevT is a restart; currST == prevT distinguishes deltas
    (prevST set and != prevT) from OTel cumulative-with-unknown-start."""
    pst = F.coalesce(prev_st, F.lit(0))
    cst = F.coalesce(cur_st, F.lit(0))
    return (
        F.when((cst == 0) | (cst >= cur_t), F.lit(False))
        .when(cst < prev_t, F.lit(False))
        .when(cst > prev_t, F.lit(True))
        .when(pst > prev_t, F.lit(False))
        .otherwise((pst != 0) & (pst != prev_t))
    )


def _with_st(windowed: DataFrame) -> DataFrame:
    if "st" not in windowed.columns:
        windowed = windowed.withColumn("st", F.lit(None).cast("long"))
    return windowed


def _extrapolated(
    ctx: EvalContext, windowed: DataFrame, range_ms: int, is_counter: bool, is_rate: bool
) -> DataFrame:
    """rate/increase/delta (functions.go:452-620 ``extrapolatedRate``),
    start-timestamp aware: ST-implied counter resets join value-drop
    resets, and a first-sample ST inside the window substitutes a zero
    sample at the ST for left extrapolation (functions.go:551)."""
    windowed = _with_st(windowed)
    over = "OVER (PARTITION BY sig, t ORDER BY sample_t)"
    prev = f"(lag(value) {over})"
    # IEEE guard: Spark sorts NaN above all doubles, Go compares false
    is_reset = f"(NOT isnan(value) AND NOT isnan({prev}) AND value < {prev})"
    if is_counter:
        st_reset = _st_reset_sql(
            f"(lag(st) {over})", f"(lag(sample_t) {over})", "st", "sample_t"
        )
        is_reset = f"({is_reset} OR {st_reset})"
        drop = f"(CASE WHEN {is_reset} THEN {prev} ELSE 0.0D END)"
    else:
        drop = "0.0D"
    stats = (
        windowed.selectExpr("*", drop + " AS __drop")
        .groupBy("sig", "t")
        .agg(
            F.expr("max(wend)").alias("wend"),
            F.expr("count(*)").alias("n"),
            F.expr("min(sample_t)").alias("first_t"),
            F.expr("max(sample_t)").alias("last_t"),
            F.expr("min_by(value, sample_t)").alias("first_v"),
            F.expr("max_by(value, sample_t)").alias("last_v"),
            F.expr("min_by(st, sample_t)").alias("st0"),
            F.expr("sum(__drop)").alias("correction"),
        )
    )
    return _extrapolate_from_stats(ctx, stats, range_ms, is_counter, is_rate)


def _extrapolate_from_stats(
    ctx: EvalContext, stats: DataFrame, range_ms: int,
    is_counter: bool, is_rate: bool,
) -> DataFrame:
    """The extrapolatedRate arithmetic over canonical per-(sig, step)
    window statistics: (sig, t, wend, n, first_t, last_t,
    first_v, last_v, st0, correction).  Shared verbatim between the
    windowed-explode path and the prefix/as-of fast path so the two are
    semantically identical by construction."""
    # The extrapolation arithmetic is assembled as ONE SQL string passed
    # to F.expr: semantically identical to building it Column-by-Column,
    # but a single py4j round trip instead of ~1500 — plan-construction
    # latency is the dominant per-query fixed cost (codegen CSE collapses
    # the textual duplication of shared subexpressions).
    R = float(range_ms)
    delta0 = "(last_v - first_v + correction)"
    dur_start = f"((first_t - (wend - {R})) / 1000.0D)"
    dur_end = "((wend - last_t) / 1000.0D)"
    sampled = "((last_t - first_t) / 1000.0D)"
    avg_spacing = (
        f"(CASE WHEN n > 1 THEN {sampled} / (n - 1) ELSE 0.0D END)"
    )
    threshold = f"({avg_spacing} * 1.1D)"
    ext_start = (
        f"(CASE WHEN {dur_start} >= {threshold} THEN {avg_spacing} / 2.0D"
        f" ELSE {dur_start} END)"
    )
    st0 = "(coalesce(st0, 0L))"
    if is_counter:
        # counter started inside the window: clamp extrapolation at the
        # implied zero crossing (functions.go "durationToZero" heuristic)
        zero_dur = (
            f"(CASE WHEN {delta0} > 0 AND first_v >= 0"
            f" THEN {sampled} * (first_v / {delta0})"
            f" ELSE double('inf') END)"
        )
        ext_start = f"(least({ext_start}, {zero_dur}))"
        # first sample's ST inside (rangeStart, firstT): assume a zero
        # sample at the ST instead of extrapolating left
        st_cond = (
            f"({st0} != 0 AND {st0} > wend - {R} AND {st0} < first_t)"
        )
        ext_start = f"(CASE WHEN {st_cond} THEN 0.0D ELSE {ext_start} END)"
        delta = (
            f"({delta0} + (CASE WHEN {st_cond} THEN first_v ELSE 0.0D END))"
        )
    else:
        st_cond = "false"
        delta = delta0
    sampled_f = (
        f"(CASE WHEN {st_cond} THEN (last_t - {st0}) / 1000.0D"
        f" ELSE {sampled} END)"
    )
    ext_end = (
        f"(CASE WHEN {dur_end} >= {threshold} THEN {avg_spacing} / 2.0D"
        f" ELSE {dur_end} END)"
    )
    factor = (
        f"(CASE WHEN {sampled_f} != 0"
        f" THEN ({sampled_f} + {ext_start} + {ext_end}) / {sampled_f}"
        f" ELSE 1.0D END)"
    )
    value = f"(CAST({delta} AS DOUBLE) * {factor})"
    if is_rate:
        value = f"({value} / {R / 1000.0}D)"

    out = stats.filter(F.expr(f"n >= 2 OR {st_cond}")).select(
        "sig", "t", F.expr(value).alias("value")
    )
    return _finish(out, ctx)


def _extended_delta(
    ctx: EvalContext,
    windowed: DataFrame,
    range_ms: int,
    is_counter: bool,
    is_rate: bool,
    smoothed: bool = False,
) -> DataFrame:
    """rate/increase/delta on anchored/smoothed windows (functions.go:309
    ``extendedRate``): boundary rows are interpolated to the exact window
    edge (counter-aware: a reset across the edge models the counter as
    restarting from 0 — functions.go:93 ``interpolate``); delta = right −
    left plus counter-reset corrections walked across the materialized
    sequence; divided by the range for rate — no extrapolation."""
    rstart = f"(wend - {range_ms})"
    ctr = "true" if is_counter else "false"
    # NaN-guarded reset comparisons: Spark orders NaN above every double,
    # but the reference's interpolate() (functions.go:93) compares in Go
    # IEEE semantics where NaN < x and x < NaN are both false — a NaN
    # boundary neighbour must flow through as NaN, not as a reset-to-zero
    y1_l = (
        f"(CASE WHEN {ctr} AND NOT isnan(__nv) AND NOT isnan(value) "
        "AND __nv < value THEN 0.0D ELSE value END)"
    )
    lval = (
        f"(CASE WHEN {str(bool(smoothed)).lower()} AND role = 'L' "
        f"AND orig_t < {rstart} AND __nv IS NOT NULL "
        f"THEN {y1_l} + (__nv - {y1_l}) * ({rstart} - orig_t) / (__nt - orig_t) "
        "ELSE value END)"
    )
    y1_r = (
        f"(CASE WHEN {ctr} AND NOT isnan(value) AND NOT isnan(__pv) "
        "AND value < __pv THEN 0.0D ELSE __pv END)"
    )
    rval = (
        "(CASE WHEN role = 'R' AND orig_t > wend AND __pv IS NOT NULL "
        f"THEN {y1_r} + (value - {y1_r}) * (wend - __pt) / (orig_t - __pt) "
        "ELSE value END)"
    )
    eff = (
        f"(CASE WHEN role = 'L' THEN {lval} "
        f"WHEN role = 'R' THEN {rval} ELSE value END)"
    )
    windowed = windowed.selectExpr("*", eff + " AS __eff")

    prev = "(lag(__eff) OVER (PARTITION BY sig, t ORDER BY sample_t))"
    if is_counter:
        drop = (
            f"(CASE WHEN NOT isnan(__eff) AND NOT isnan({prev}) "
            f"AND __eff < {prev} THEN {prev} ELSE 0.0D END)"
        )
    else:
        drop = "0.0D"
    stats = (
        windowed.selectExpr("*", drop + " AS __drop")
        .groupBy("sig", "t")
        .agg(
            F.expr("min_by(__eff, sample_t)").alias("first_v"),
            F.expr("max_by(__eff, sample_t)").alias("last_v"),
            F.expr("sum(__drop)").alias("correction"),
        )
    )
    value = "(last_v - first_v + correction)"
    if is_rate:
        value = f"({value} / {range_ms / 1000.0}D)"
    out = stats.selectExpr("sig", "t", value + " AS value")
    return _finish(out, ctx)


def eval_extended_rate_fold(
    ctx: EvalContext,
    func: str,
    selector,
    range_ms: int,
    offset_ms: int = 0,
    smoothed: bool = False,
) -> VectorFrame:
    """anchored/smoothed rate/increase/delta as a per-series Arrow fold.

    The materialized plan (selectors.extended_windowed_samples +
    _extended_delta) explodes the samples THREE ways (interior + left +
    right boundary candidates), unions them, runs two validity windows
    and a lag window over the union, and aggregates — five shuffles of
    samples×ratio rows.  Per series the same math is a pair of
    ``np.searchsorted`` calls, one prefix cumsum of counter drops, and
    vectorized boundary interpolation — the same shape as
    ``_prefix_stats_arrow``.  Sample adjacency (the interpolation
    neighbours) comes from array shifts inside the fold: although the
    materialized path computes lead/lag over the UNSCOPED series, an
    out-of-scope neighbour can only ever be consulted by an INVALID
    window — a left boundary's next sample on a valid window is the
    window's first interior sample or its right boundary (both in
    scope), a right boundary's previous is the last interior or the
    left boundary, and a right boundary whose previous sample precedes
    the scope has no in-lookback left boundary, failing validity — so
    in-scope shifts are exact for every emitted row.

    Histogram-carrying series route to the materialized path unchanged
    (mixed-window semantics live there); the two halves union.
    ``PROMSPARK_EXT_IMPL=explode`` forces the old plan everywhere."""
    import numpy as np
    import pandas as pd

    from prometheus_spark.engine.selectors import (
        extended_windowed_samples,
        matcher_predicate,
        selector_dim,
    )

    base = ctx.samples.filter(
        matcher_predicate(selector.matchers, ctx.samples.columns)
    ).filter(~F.col("stale"))
    lb = int(ctx.lookback_ms)
    lo = ctx.start_ms - offset_ms - range_ms - lb
    hi = ctx.end_ms - offset_ms + (lb if smoothed else 0)
    scoped_pred = f"t > {lo} AND t <= {hi}"
    dim = selector_dim(ctx, selector.matchers, base.filter(scoped_pred))

    hist_out = None
    base_f, hists, mixed = split_kinds(ctx, base, stored=True)
    if hists is not None:
        hw, hdim = extended_windowed_samples(
            ctx, selector, range_ms, offset_ms=offset_ms,
            smoothed=smoothed, base=hists.unionByName(mixed),
        )
        hist_out = eval_range_function(
            ctx, func, hw, range_ms,
            mode="smoothed" if smoothed else "anchored", dim=hdim, stored=True,
        ).fact

    adj = base_f.filter(scoped_pred).selectExpr(
        "sig", "t", "CAST(value AS DOUBLE) AS value"
    )

    step_arr = np.arange(
        ctx.start_ms, ctx.end_ms + 1, ctx.step_ms, dtype=np.int64
    )
    wend_arr = step_arr - offset_ms
    rs_arr = wend_arr - int(range_ms)
    rng_s = range_ms / 1000.0
    is_counter = func != "delta"
    is_rate = func == "rate"
    sm = bool(smoothed)
    nsteps = len(step_arr)

    empty = pd.DataFrame(
        {
            "sig": pd.Series([], dtype=str),
            "t": pd.Series([], dtype=np.int64),
            "value": pd.Series([], dtype=np.float64),
        }
    )

    def _ctr_drop(a, b, active):
        # counter reset across the pair: NOT isnan(a/b) AND b < a → add a
        return np.where(
            active & ~np.isnan(a) & ~np.isnan(b) & (b < a), a, 0.0
        )

    def series_fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["t"].to_numpy(np.int64), kind="mergesort")
        ts = pdf["t"].to_numpy(np.int64)[order]
        vs = pdf["value"].to_numpy(np.float64)[order]
        n = len(ts)
        if n == 0:  # pragma: no cover — groupBy never yields empty groups
            return empty
        right = np.searchsorted(ts, wend_arr, side="right")
        left = np.searchsorted(ts, rs_arr, side="right")
        has_int = right > left
        # L = latest sample at/before rangeStart, within lookback
        li = np.clip(left - 1, 0, n - 1)
        ts_l, v_l = ts[li], vs[li]
        has_L = (left >= 1) & (ts_l > rs_arr - lb)
        L_eff = v_l
        if sm:
            # smoothed: interpolate strictly-pre-window L to the edge,
            # counter-aware (functions.go:93 interpolate); the neighbour
            # is the next in-scope sample — exact for valid windows (see
            # docstring)
            ni = np.clip(left, 0, n - 1)
            nt_l, nv_l = ts[ni], vs[ni]
            do_l = has_L & (ts_l < rs_arr) & (left < n)
            reset_l = (nv_l < v_l) if is_counter else np.zeros(nsteps, bool)
            y1 = np.where(reset_l, 0.0, v_l)
            with np.errstate(invalid="ignore", divide="ignore"):
                interp_l = y1 + (nv_l - y1) * (rs_arr - ts_l) / (nt_l - ts_l)
            L_eff = np.where(do_l, interp_l, v_l)
        # R (smoothed) = earliest post-window sample, within lookback,
        # with its previous sample strictly before the edge
        has_R = np.zeros(nsteps, dtype=bool)
        R_eff = np.full(nsteps, np.nan)
        if sm:
            ri = np.clip(right, 0, n - 1)
            ts_r, v_r = ts[ri], vs[ri]
            pi = np.clip(right - 1, 0, n - 1)
            pt_r, pv_r = ts[pi], vs[pi]
            has_prev = right >= 1
            has_R = (
                (right < n)
                & (ts_r < wend_arr + lb)
                & (~has_prev | (pt_r < wend_arr))
            )
            reset_r = (v_r < pv_r) if is_counter else np.zeros(nsteps, bool)
            y1r = np.where(reset_r, 0.0, pv_r)
            with np.errstate(invalid="ignore", divide="ignore"):
                interp_r = y1r + (v_r - y1r) * (wend_arr - pt_r) / (ts_r - pt_r)
            R_eff = np.where(has_prev, interp_r, v_r)
        # validity: a sample after rangeStart (interior or R) and one
        # at/before rangeEnd (interior or L) — extended_windowed_samples'
        # __after/__before flags
        valid = (has_int | has_R) & (has_int | has_L)
        if not valid.any():
            return empty
        fi = np.clip(left, 0, n - 1)
        la = np.clip(right - 1, 0, n - 1)
        int_first, int_last = vs[fi], vs[la]
        first_eff = np.where(has_L, L_eff, np.where(has_int, int_first, R_eff))
        last_eff = np.where(has_R, R_eff, np.where(has_int, int_last, L_eff))
        corr = np.zeros(nsteps)
        if is_counter:
            if n >= 2:
                a, b = vs[:-1], vs[1:]
                dr = np.where(~np.isnan(a) & ~np.isnan(b) & (b < a), a, 0.0)
                cum = np.concatenate(([0.0], np.cumsum(dr)))
            else:
                cum = np.zeros(max(n, 1))
            corr = np.where(has_int, cum[la] - cum[fi], 0.0)
            corr = corr + _ctr_drop(L_eff, int_first, has_L & has_int)
            corr = corr + _ctr_drop(int_last, R_eff, has_R & has_int)
            corr = corr + _ctr_drop(L_eff, R_eff, has_L & has_R & ~has_int)
        val = last_eff - first_eff + corr
        if is_rate:
            val = val / rng_s
        return pd.DataFrame(
            {
                "sig": pdf["sig"].iloc[0],
                "t": step_arr[valid],
                "value": val[valid],
            }
        )

    folded = (
        _pyfold_repartition(ctx, adj)
        .groupBy("sig")
        .applyInPandas(series_fold, schema="sig string, t long, value double")
    )
    # pandas→Arrow reads float NaN as null; the fold never emits null —
    # any null IS a NaN result
    out = _finish(
        folded.select("sig", "t", F.coalesce("value", _NAN()).alias("value")),
        ctx,
    )
    if hist_out is not None:
        out = _union_hist(out, hist_out)
    return VectorFrame(fact=out, dim=dim)


def _instant_pair(ctx: EvalContext, windowed: DataFrame, is_rate: bool) -> DataFrame:
    """idelta/irate — last two samples (functions.go:821-826); irate also
    honors start-timestamp resets between them (functions.go:674)."""
    windowed = _with_st(windowed)
    pair = F.slice(
        F.sort_array(F.collect_list(F.struct("sample_t", "value", "st"))), -2, 2
    )
    stats = _grouped(windowed).agg(
        F.count("*").alias("n"), pair.alias("p")
    )
    a, b = F.col("p")[0], F.col("p")[1]  # a = previous, b = last
    if is_rate:
        # counter-reset aware (functions.go:instantValue); IEEE NaN guard
        is_reset = (
            (~F.isnan(b["value"])) & (~F.isnan(a["value"])) & (b["value"] < a["value"])
        ) | _st_reset_expr(a["st"], a["sample_t"], b["st"], b["sample_t"])
        dv = F.when(is_reset, b["value"]).otherwise(b["value"] - a["value"])
        value = dv / ((b["sample_t"] - a["sample_t"]) / 1000.0)
    else:
        value = b["value"] - a["value"]
    out = stats.filter(F.col("n") >= 2).select("sig", "t", value.alias("value"))
    return _finish(out, ctx)


def _resets_changes(ctx: EvalContext, windowed: DataFrame, func: str) -> DataFrame:
    windowed = _with_st(windowed)
    w = Window.partitionBy("sig", "t").orderBy("sample_t")
    prev = F.lag("value").over(w)
    cur = F.col("value")
    if func == "resets":
        # value drops and ST-implied restarts both count (funcResets)
        st_reset = _st_reset_expr(
            F.lag("st").over(w), F.lag("sample_t").over(w), F.col("st"), F.col("sample_t")
        )
        flag = F.when(
            ((~F.isnan(cur)) & (~F.isnan(prev)) & (cur < prev)) | st_reset, 1
        ).otherwise(0)
    else:  # changes — NaN→NaN is not a change (functions.go:2431)
        changed = (cur != prev) & ~(F.isnan(cur) & F.isnan(prev))
        flag = F.when(prev.isNull(), 0).when(changed, 1).otherwise(0)
    out = (
        windowed.withColumn("__f", flag)
        .groupBy("sig", "t")
        .agg(F.sum("__f").cast("double").alias("value"))
    )
    return _finish(out, ctx)


def _linreg(ctx: EvalContext, windowed: DataFrame, predict_s) -> DataFrame:
    """deriv/predict_linear — least-squares slope per second
    (functions.go:1949 ``linearRegression``): deriv anchors the intercept
    at the first sample (numerical stability; only the slope is used),
    predict_linear anchors at the eval timestamp and returns
    ``slope·duration + intercept``.  Constant series short-circuit to
    slope 0 / intercept y (NaN when y is ±Inf)."""
    is_deriv = predict_s is None
    if not is_deriv and not isinstance(predict_s, ConstScalar):
        raise PromQLEvalError("predict_linear: scalar parameter required")

    stats = _grouped(windowed).agg(
        F.count("*").alias("n"),
        F.min("sample_t").alias("t0"),
        F.sum("value").alias("sy"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.collect_list(F.struct("sample_t", "value")).alias("pts"),
    )
    anchor = F.col("t0") if is_deriv else F.col("t")
    x = lambda p: (p["sample_t"] - anchor) / 1000.0
    sx = F.aggregate(F.col("pts"), F.lit(0.0), lambda acc, p: acc + x(p))
    sxy = F.aggregate(F.col("pts"), F.lit(0.0), lambda acc, p: acc + x(p) * p["value"])
    sxx = F.aggregate(F.col("pts"), F.lit(0.0), lambda acc, p: acc + x(p) * x(p))
    n = F.col("n").cast("double")
    cov = sxy - sx * F.col("sy") / n
    var = sxx - sx * sx / n
    slope = cov / var
    intercept = F.col("sy") / n - slope * sx / n

    const_y = F.col("vmin") == F.col("vmax")  # no NaN: NaN != NaN in Spark agg... guarded below
    inf_y = F.abs(F.col("vmin")) == F.lit(float("inf"))
    if is_deriv:
        value = F.when(const_y, F.when(inf_y, _NAN()).otherwise(F.lit(0.0))).otherwise(slope)
    else:
        dur = F.lit(float(predict_s.value))
        value = F.when(const_y, F.when(inf_y, _NAN()).otherwise(F.col("vmin"))).otherwise(
            slope * dur + intercept
        )

    out = stats.filter(F.col("n") >= 2).select("sig", "t", value.alias("value"))
    return _finish(out, ctx)


def _holt_winters(ctx: EvalContext, windowed: DataFrame, sf, tf) -> DataFrame:
    """double_exponential_smoothing (functions.go:981) — inherently
    sequential; the per-window fold runs as an array aggregate, still
    JVM-side."""
    if not isinstance(sf, ConstScalar) or not isinstance(tf, ConstScalar):
        raise PromQLEvalError("double_exponential_smoothing: scalar parameters required")
    a, b = float(sf.value), float(tf.value)
    if not (0 < a < 1) or not (0 < b < 1):
        raise PromQLEvalError("smoothing/trend factors must be in (0, 1)")
    pts = F.sort_array(F.collect_list(F.struct("sample_t", "value")))
    stats = _grouped(windowed).agg(
        F.count("*").alias("n"), pts.alias("pts")
    )
    vals = F.transform(F.col("pts"), lambda p: p["value"])
    # fold state: (level, trend); x1 = s0, b1 = s1 - s0
    init = F.struct(
        F.col("pts")[0]["value"].alias("l"),
        (F.col("pts")[1]["value"] - F.col("pts")[0]["value"]).alias("b"),
    )
    rest = F.slice(vals, 2, F.size(vals) - 1)

    def step(acc, v):
        level = F.lit(a) * v + F.lit(1 - a) * (acc["l"] + acc["b"])
        trend = F.lit(b) * (level - acc["l"]) + F.lit(1 - b) * acc["b"]
        return F.struct(level.alias("l"), trend.alias("b"))

    final = F.aggregate(rest, init, step)
    out = stats.filter(F.col("n") >= 2).select(
        "sig", "t", final["l"].alias("value")
    )
    return _finish(out, ctx)


def _pyfold_repartition(ctx: EvalContext, df: DataFrame) -> DataFrame:
    """Explicit sig-hash repartition ahead of a CPU-bound Python fold.

    ``groupBy(sig).applyInPandas`` plans its own exchange, and AQE then
    coalesces it by SHUFFLE BYTES — but these folds cost milliseconds of
    Python per series while compressing to a few KB, so byte-based
    coalescing serializes them onto a handful of tasks (measured: the
    DES fold for 100 series ran on 9-12 tasks, wall ≈ series/task ×
    fold time).  A user-specified repartition is exempt from AQE
    coalescing and its hash partitioning satisfies the groupBy's
    clustering requirement, so no second exchange is planned.  2× the
    scheduler parallelism keeps hash-placement skew (a few series per
    task) from doubling the stage wall."""
    return df.repartition(2 * ctx.spark.sparkContext.defaultParallelism, "sig")


# ---------------------------------------------------------------------
# prefix/as-of fast path


def eval_range_function_prefix(
    ctx: EvalContext,
    func: str,
    selector,
    range_ms: int,
    offset_ms: int = 0,
) -> VectorFrame:
    """O(samples + series×steps) evaluation of PREFIX_RANGE_FUNCS over a
    plain matrix selector — no per-window sample duplication.

    The reference evaluator is incremental (its ring buffer advances the
    window per step, engine.go matrixIterSlice); the windowed-explode
    plan replays each sample in every window instead, which costs
    range/step × the input (8640× for ``rate(x[1d])`` at a 10s step).
    This path restores the O(samples) shape: each series' samples ship
    once into an Arrow batch (:func:`_prefix_stats_arrow`), where two
    ``np.searchsorted`` calls find every window's first and last sample
    and prefix sums of counter drops / change flags / reset flags give
    every window statistic by subtraction (n = idxᵦ − idxₐ + 1,
    correction = cumdropᵦ − cumdropₐ, changes/resets likewise); the rate
    family feeds the SAME ``_extrapolate_from_stats`` arithmetic as the
    explode path.

    Series carrying native histograms are routed to the explode path
    (mixed-window drop semantics live there); both halves union.
    """
    from prometheus_spark.engine.selectors import (
        matcher_predicate,
        windowed_samples,
    )

    base = ctx.samples.filter(
        matcher_predicate(selector.matchers, ctx.samples.columns)
    ).filter(~F.col("stale"))
    lo = ctx.start_ms - offset_ms - range_ms
    hi = ctx.end_ms - offset_ms
    base = base.filter((F.col("t") > lo) & (F.col("t") <= hi))
    st = F.col("st") if "st" in base.columns else F.lit(None).cast("long")
    cols = [F.col("sig"), F.col("t"), F.col("value"), st.alias("st")]
    # one labels dim for the whole call (float fast path + hist halves)
    from prometheus_spark.engine.selectors import selector_dim

    dim = selector_dim(ctx, selector.matchers, base)

    # pure-float series stay on the float fast path; for the rate family
    # pure-histogram series take the as-of path (same O(samples + steps)
    # shape, no window explode — hist_arith.window_rate_asof) and mixed
    # series the explode path, which owns per-window float/mixed
    # routing; other functions send every histogram-bearing series to
    # the explode path
    floats, hists, mixed = split_kinds(ctx, base, stored=True)
    base_f = floats.select(*cols)
    hist_out = None
    if hists is not None:
        from prometheus_spark.engine import hist_arith

        if func in ("rate", "increase", "delta"):
            hist_out = hist_arith.window_rate_asof(
                ctx, hists, range_ms, offset_ms,
                is_counter=func != "delta", is_rate=func == "rate",
            )
            hseries = mixed
        else:
            hseries = hists.unionByName(mixed)
        # lazily evaluated: zero hist series → empty explode input
        hw, hdim = windowed_samples(ctx, hseries, range_ms, offset_ms=offset_ms)
        explode_out = eval_range_function(
            ctx, func, hw, range_ms, dim=hdim, stored=True
        ).fact
        hist_out = (
            explode_out if hist_out is None
            else hist_out.unionByName(explode_out, allowMissingColumns=True)
        )

    stats = _prefix_stats_arrow(ctx, base_f, range_ms, offset_ms)

    if func in ("rate", "increase", "delta"):
        if func == "delta":
            # non-counter: no reset correction (functions.go:467
            # extrapolatedRate's isCounter=false branch)
            stats = stats.withColumn("correction", F.lit(0.0))
        out = _extrapolate_from_stats(
            ctx, stats, range_ms,
            is_counter=func != "delta", is_rate=func == "rate",
        )
    else:
        val = {
            "changes": F.col("__changes"),
            "resets": F.col("__resets"),
            "count_over_time": F.col("n").cast("double"),
            "present_over_time": F.lit(1.0),
            "first_over_time": F.col("first_v"),
            "last_over_time": F.col("last_v"),
            "ts_of_first_over_time": F.col("first_t") / 1000.0,
            "ts_of_last_over_time": F.col("last_t") / 1000.0,
        }[func]
        out = _finish(
            stats.select("sig", "t", val.alias("value")),
            ctx, keep_name=func in _KEEPS_NAME,
        )
    if hist_out is not None:
        out = _union_hist(out, hist_out)
    return VectorFrame(fact=out, dim=dim)


def _prefix_stats_arrow(
    ctx: EvalContext, base_f: DataFrame, range_ms: int, offset_ms: int
) -> DataFrame:
    """Per-(series, step) window stats via a vectorized Arrow fold.

    A pure-Catalyst formulation (2·steps probe rows per series
    interleaved with the samples, five running window expressions over
    two sorts) cost ~70 ms of interpreted WindowExec CPU per 1k-sample
    series (77 s CPU for h_hundred's 1,100 series).  The same math per
    series is two ``np.searchsorted`` calls plus three ``np.cumsum``
    prefix arrays — microseconds.  Samples ship ONCE into Arrow batches
    (sig, t, value, st — no labels, split frame contract) and the
    emitted stats frame feeds the identical JVM
    ``_extrapolate_from_stats`` arithmetic, so extrapolation semantics
    (and their corpus pins) are untouched."""
    import numpy as np
    import pandas as pd

    step_arr = np.arange(
        ctx.start_ms, ctx.end_ms + 1, ctx.step_ms, dtype=np.int64
    )
    wend_arr = step_arr - offset_ms
    rng = int(range_ms)

    empty = pd.DataFrame(
        {
            "sig": pd.Series([], dtype=str),
            "t": pd.Series([], dtype=np.int64),
            "wend": pd.Series([], dtype=np.int64),
            "n": pd.Series([], dtype=np.int64),
            "first_t": pd.Series([], dtype=np.int64),
            "last_t": pd.Series([], dtype=np.int64),
            "first_v": pd.Series([], dtype=np.float64),
            "last_v": pd.Series([], dtype=np.float64),
            "st0": pd.Series([], dtype="Int64"),
            "correction": pd.Series([], dtype=np.float64),
            "__resets": pd.Series([], dtype=np.float64),
            "__changes": pd.Series([], dtype=np.float64),
        }
    )

    def series_stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["t"].to_numpy(np.int64), kind="mergesort")
        ts = pdf["t"].to_numpy(np.int64)[order]
        vs = pdf["value"].to_numpy(np.float64)[order]
        right = np.searchsorted(ts, wend_arr, side="right")
        left = np.searchsorted(ts, wend_arr - rng, side="right")
        n = right - left
        valid = n >= 1
        if not valid.any():
            return empty
        st_col = pdf["st"]
        has_st = st_col.notna().any()
        if has_st:
            st = st_col.to_numpy(dtype="float64")[order]  # NaN = unset
            st0f = np.where(np.isnan(st), 0.0, st)
        if len(ts) >= 2:
            pv, cv = vs[:-1], vs[1:]
            both = ~np.isnan(pv) & ~np.isnan(cv)
            reset = both & (cv < pv)
            changed = np.where(
                np.isnan(pv) | np.isnan(cv),
                ~(np.isnan(pv) & np.isnan(cv)),
                pv != cv,
            )
            if has_st:
                # isStartTimestampReset (functions.go:760), vectorized
                pst, cst = st0f[:-1], st0f[1:]
                pt, ct = ts[:-1], ts[1:]
                st_reset = np.where(
                    (cst == 0) | (cst >= ct), False,
                    np.where(
                        cst < pt, False,
                        np.where(
                            cst > pt, True,
                            np.where(pst > pt, False,
                                     (pst != 0) & (pst != pt)),
                        ),
                    ),
                )
                reset = reset | st_reset
            # NB: an ST-implied reset can fire with pv=NaN, making the
            # correction NaN — matching the explode path (_extrapolated),
            # which adds the previous value on any reset, NaN included
            drop = np.where(reset, pv, 0.0)
            cum_drop = np.concatenate(([0.0], np.cumsum(drop)))
            cum_res = np.concatenate(([0], np.cumsum(reset.astype(np.int64))))
            cum_chg = np.concatenate(([0], np.cumsum(changed.astype(np.int64))))
        else:
            cum_drop = np.zeros(1)
            cum_res = np.zeros(1, dtype=np.int64)
            cum_chg = np.zeros(1, dtype=np.int64)
        fi = left[valid]
        li = right[valid] - 1
        if has_st:
            stfi = st[fi]
            st0 = pd.array(
                np.where(np.isnan(stfi), 0, stfi).astype(np.int64),
                dtype="Int64",
            )
            st0[np.isnan(stfi)] = pd.NA
        else:
            st0 = pd.array([pd.NA] * int(valid.sum()), dtype="Int64")
        return pd.DataFrame(
            {
                "sig": pdf["sig"].iloc[0],
                "t": step_arr[valid],
                "wend": wend_arr[valid],
                "n": n[valid],
                "first_t": ts[fi],
                "last_t": ts[li],
                "first_v": vs[fi],
                "last_v": vs[li],
                "st0": st0,
                "correction": cum_drop[li] - cum_drop[fi],
                "__resets": (cum_res[li] - cum_res[fi]).astype(np.float64),
                "__changes": (cum_chg[li] - cum_chg[fi]).astype(np.float64),
            }
        )

    folded = (
        _pyfold_repartition(ctx, base_f.select("sig", "t", "value", "st"))
        .groupBy("sig")
        .applyInPandas(
            series_stats,
            schema=(
                "sig string, t long, wend long, n long, first_t long, "
                "last_t long, first_v double, last_v double, st0 long, "
                "correction double, __resets double, __changes double"
            ),
        )
    )
    # pandas→Arrow reads float NaN as null; samples never carry null
    # values on this (pure-float) path, so any null IS a NaN — restore
    return folded.select(
        "sig", "t", "wend", "n", "first_t", "last_t",
        F.coalesce(F.col("first_v"), _NAN()).alias("first_v"),
        F.coalesce(F.col("last_v"), _NAN()).alias("last_v"),
        "st0",
        F.coalesce(F.col("correction"), _NAN()).alias("correction"),
        "__resets", "__changes",
    )


def eval_des_asof(
    ctx: EvalContext,
    selector,
    range_ms: int,
    offset_ms: int,
    sf,
    tf,
) -> VectorFrame:
    """double_exponential_smoothing over a plain matrix selector without
    the range/step window explode.

    The DES recurrence (reference functions.go:981) consumes every
    in-window sample per step and does not decompose into prefix sums —
    the O(steps × window) sample touches are irreducible (the reference's
    ring buffer pays the same).  What IS reducible is the explode: the
    windowed plan duplicates every sample once per window it falls in
    (8640× for ``[1d]`` at a 10s step) and pushes the copies through a
    shuffle before folding.  This path ships each series' samples ONCE
    into an Arrow batch and runs the recurrence for ALL steps of that
    series simultaneously in numpy, iterating over the in-window sample
    OFFSET: per iteration one vectorized multiply-add across the step
    lanes, ``max_window_len`` iterations total.

    Bit-parity with :func:`_holt_winters`: the fold order is identical —
    ``level = sf·x + (1−sf)·(level₀ + trend₀)`` then
    ``trend = tf·(level − level₀) + (1−tf)·trend₀`` with
    ``level₀ = v[0], trend₀ = v[1] − v[0]`` — same IEEE-754 double ops in
    the same order, so results match the JVM fold exactly (pinned by
    tests/test_prefix_range.py::test_des_asof_parity).

    Histogram samples are invisible to DES in the explode path
    (``floats_only``); the same value-not-null filter applies here.
    """
    import numpy as np
    import pandas as pd

    from prometheus_spark.engine.selectors import matcher_predicate

    if not isinstance(sf, ConstScalar) or not isinstance(tf, ConstScalar):
        raise PromQLEvalError(
            "double_exponential_smoothing: scalar parameters required"
        )
    a, b = float(sf.value), float(tf.value)
    if not (0 < a < 1) or not (0 < b < 1):
        raise PromQLEvalError("smoothing/trend factors must be in (0, 1)")
    oma, omb = 1.0 - a, 1.0 - b

    base = ctx.samples.filter(
        matcher_predicate(selector.matchers, ctx.samples.columns)
    ).filter(~F.col("stale")).filter(F.col("value").isNotNull())
    lo = ctx.start_ms - offset_ms - range_ms
    hi = ctx.end_ms - offset_ms
    base = base.filter((F.col("t") > lo) & (F.col("t") <= hi))

    step_arr = np.arange(
        ctx.start_ms, ctx.end_ms + 1, ctx.step_ms, dtype=np.int64
    )
    wend_arr = step_arr - offset_ms
    rng = int(range_ms)

    def des_series(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["t"].to_numpy(np.int64), kind="mergesort")
        ts = pdf["t"].to_numpy(np.int64)[order]
        vs = pdf["value"].to_numpy(np.float64)[order]
        right = np.searchsorted(ts, wend_arr, side="right")
        left = np.searchsorted(ts, wend_arr - rng, side="right")
        n = right - left
        valid = n >= 2
        if not valid.any():
            return pd.DataFrame(
                {"sig": pd.Series([], dtype=str),
                 "t": pd.Series([], dtype=np.int64),
                 "value": pd.Series([], dtype=np.float64)}
            )
        start = left[valid]
        length = n[valid]
        if int(valid.sum()) <= 4:
            # few valid steps (instant queries): the lane-vectorized
            # fold below degenerates to ~6 numpy calls per SAMPLE on
            # 1-wide arrays — a plain float loop is ~50× cheaper and
            # performs the identical IEEE-754 op sequence
            lv = []
            for s, ln in zip(start.tolist(), length.tolist()):
                level_s = float(vs[s])
                trend_s = float(vs[s + 1]) - level_s
                for j in range(1, ln):
                    x = float(vs[s + j])
                    nl = a * x + oma * (level_s + trend_s)
                    trend_s = b * (nl - level_s) + omb * trend_s
                    level_s = nl
                lv.append(level_s)
            return pd.DataFrame(
                {
                    "sig": pdf["sig"].iloc[0],
                    "t": step_arr[valid],
                    "value": np.asarray(lv, dtype=np.float64),
                }
            )
        level = vs[start].copy()
        trend = vs[start + 1] - vs[start]
        last = len(vs) - 1
        for j in range(1, int(length.max())):
            active = length > j
            if not active.any():
                break
            x = vs[np.minimum(start + j, last)]
            nl = a * x + oma * (level + trend)
            nt = b * (nl - level) + omb * trend
            level = np.where(active, nl, level)
            trend = np.where(active, nt, trend)
        return pd.DataFrame(
            {
                "sig": pdf["sig"].iloc[0],
                "t": step_arr[valid],
                "value": level,
            }
        )

    # split frame contract: labels live on the dim, so the Arrow
    # batches carry only (sig, t, value) — no per-batch label arrays
    from prometheus_spark.engine.selectors import selector_dim

    dim = selector_dim(ctx, selector.matchers, base)
    res = (
        _pyfold_repartition(ctx, base.select("sig", "t", "value"))
        .groupBy("sig")
        .applyInPandas(
            des_series,
            schema="sig string, t long, value double",
        )
    )
    # pyarrow's pandas bridge reads float NaN as null; the recurrence
    # never produces a genuine null, so restore NaN on the way out
    out = res.select(
        "sig",
        "t",
        F.coalesce(F.col("value"), _NAN()).alias("value"),
    )
    return VectorFrame(fact=_finish(out, ctx), dim=dim)


def hist_asof_threshold() -> int:
    """Minimum range/step ratio for routing PURE-histogram series of a
    rate-family call through :func:`hist_arith.window_rate_asof` when
    the ratio is below :func:`prefix_threshold` (floats keep the explode
    path there).  Histogram windows are Python-cost dominated — the
    explode multiplies ``from_row`` deserializations and shuffle bytes
    by the ratio, so as-of wins for histograms at ratios where the
    float explode still wins.  The hybrid only engages when the samples
    frame can hold a histogram (:func:`hist_possible`).  Override with
    PROMSPARK_HIST_ASOF_THRESHOLD."""
    import os

    return int(os.environ.get("PROMSPARK_HIST_ASOF_THRESHOLD", "4"))


def hist_possible(ctx: EvalContext, df: DataFrame) -> bool:
    """Can ``df`` hold a native-histogram sample?  False when it has no
    ``hist`` column or the engine measured its samples frame as holding
    none (``EvalContext.hist_samples``; no PromQL function makes a
    histogram out of floats) — callers then skip their histogram branch
    and its union."""
    return "hist" in df.columns and ctx.hist_samples


def split_kinds(
    ctx: EvalContext, df: DataFrame, stored: bool, per_window: bool = False
) -> tuple:
    """The float/native-histogram routing decision → ``(floats, hists,
    mixed)`` row subsets of ``df``.

    Per series: ``floats`` holds the rows of series with only float
    samples, ``hists`` of series with only histograms, ``mixed`` the
    rest.  The kinds come from the engine series dim (a TSDB's series
    index knows each series' sample type), joined by sig; contexts
    without an engine aggregate them from ``df``.  Whole-frame kinds are
    conservative under a query's time filter: a series pure over the
    whole frame is pure in every window.  Only ``stored`` frames — rows
    of the samples frame itself — may read them: a derived frame (a
    subquery's output) keeps its input's sigs but not their kinds
    (``histogram_count(h)`` is float), so all its rows count as mixed,
    as does any sig missing from the dim.

    ``per_window`` splits the mixed series' rows further by their
    (sig, t) window: all-float windows join ``floats``, all-histogram
    windows join ``hists`` and ``mixed`` keeps the windows holding both.
    Pure series never meet that Window.

    When ``df`` cannot hold a histogram (:func:`hist_possible`) the
    result is ``(df, None, None)``."""
    if not hist_possible(ctx, df):
        return df, None, None
    cols = df.columns
    if not stored:
        flagged = df.withColumn("__kind", F.lit("m"))
    else:
        sd = ctx.series_dim
        if sd is not None and "__has_h" in sd.columns:
            kinds = ctx.dim_hint(sd.select("sig", "__has_h", "__has_f"))
        else:
            kinds = df.groupBy("sig").agg(
                F.max(F.col("hist").isNotNull().cast("int")).alias("__has_h"),
                F.max(F.col("value").isNotNull().cast("int")).alias("__has_f"),
            )
        flagged = df.join(kinds, "sig", "left").selectExpr(
            *[f"`{c}`" for c in cols],
            "CASE WHEN __has_h = 0 THEN 'f' WHEN __has_f = 0 THEN 'h' "
            "ELSE 'm' END AS __kind",
        )
    floats, hists, mixed = (
        flagged.filter(F.col("__kind") == k).select(*cols) for k in "fhm"
    )
    if per_window:
        w = Window.partitionBy("sig", "t")
        mw = mixed.select(
            *cols,
            F.max(F.col("value").isNotNull().cast("int")).over(w).alias("__wf"),
            F.max(F.col("hist").isNotNull().cast("int")).over(w).alias("__wh"),
        )
        floats = floats.unionByName(mw.filter("__wh = 0").select(*cols))
        hists = hists.unionByName(mw.filter("__wf = 0").select(*cols))
        mixed = mw.filter("__wf = 1 AND __wh = 1").select(*cols)
    return floats, hists, mixed


def eval_rate_hybrid(
    ctx: EvalContext,
    func: str,
    selector,
    range_ms: int,
    offset_ms: int = 0,
) -> VectorFrame:
    """rate/increase/delta at explode-favoring ratios over hist-bearing
    storage: float and mixed series keep the windowed-explode path
    (optimal at low range/step), pure-histogram series take the as-of
    path.  Bit-identical to the pure explode evaluation — the split
    only reroutes series whose every window the explode path would hand
    to ``window_rate`` anyway."""
    from prometheus_spark.engine import hist_arith
    from prometheus_spark.engine.selectors import (
        matcher_predicate,
        selector_dim,
        windowed_samples,
    )

    base = ctx.samples.filter(
        matcher_predicate(selector.matchers, ctx.samples.columns)
    ).filter(~F.col("stale"))
    lo = ctx.start_ms - offset_ms - range_ms
    hi = ctx.end_ms - offset_ms
    base = base.filter((F.col("t") > lo) & (F.col("t") <= hi))
    floats, hists, mixed = split_kinds(ctx, base, stored=True)
    dim = selector_dim(ctx, selector.matchers, base)
    rest = floats if hists is None else floats.unionByName(mixed)
    w, _wdim = windowed_samples(ctx, rest, range_ms, offset_ms=offset_ms)
    out = eval_range_function(ctx, func, w, range_ms, dim=_wdim, stored=True).fact
    if hists is not None:
        h = hist_arith.window_rate_asof(
            ctx, hists, range_ms, offset_ms,
            is_counter=func != "delta", is_rate=func == "rate",
        )
        out = out.unionByName(h, allowMissingColumns=True)
    return VectorFrame(fact=out, dim=dim)
