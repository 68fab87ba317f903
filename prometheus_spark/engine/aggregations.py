"""PromQL aggregation operators over instant vectors.

Semantics reference: promql/engine.go:3616 (``aggregation``) and
engine.go:3986 (``aggregationK`` — heap-based k-selectors).  Grouping key =
kept/dropped label subset (engine.go:4399-4412); here the regrouped label
map is computed JVM-side and aggregation is a plain ``groupBy(sig, t)`` —
Spark supplies partial (map-side) aggregation and spill for free.

NaN handling: PromQL min/max skip NaN unless all values are NaN; Spark
treats NaN as the largest double and NaN==NaN in comparisons, so NaN is
masked to NULL first.  sum/avg propagate NaN in both systems.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.values import ConstScalar, ScalarFrame, VectorFrame
from prometheus_spark.model.labels import group_labels_expr, sig_expr
from prometheus_spark.parser.ast import AggregateExpr


class PromQLEvalError(Exception):
    pass


def _NAN():  # lazily built: F.lit needs an active SparkContext
    return F.lit(float("nan"))


def _not_nan(c: Column) -> Column:
    return ~F.isnan(c)


def _regroup(vf: VectorFrame, node: AggregateExpr, extra: list = ()) -> DataFrame:
    from prometheus_spark.model.labels import group_labels_sql, sig_sql

    by = node.grouping if (node.has_grouping and not node.without) else None
    without = node.grouping if (node.has_grouping and node.without) else None
    glabels = group_labels_sql("labels", by, without)
    hist_cols = ["hist"] if "hist" in vf.df.columns else []
    return vf.df.selectExpr(
        sig_sql(glabels) + " AS sig",
        glabels + " AS labels",
        "t",
        "value",
        "drop_name",
        *hist_cols,
        *extra,
    )


def _regroup_split(vf: VectorFrame, node: AggregateExpr, extra: list = (), ctx: EvalContext = None):
    """Split-contract regroup: the group labelset and its sig are
    computed once per SERIES on the dim (not once per sample row), the
    fact picks up its group sig through a narrow (sig → gsig) join, and
    the output dim is the per-group labelset.  → (fact, dim)."""
    from prometheus_spark.model.labels import group_labels_sql, sig_sql

    by = node.grouping if (node.has_grouping and not node.without) else None
    without = node.grouping if (node.has_grouping and node.without) else None
    fact_in = vf.fact
    hist_cols = ["hist"] if "hist" in fact_in.columns else []
    if by is not None and not by:
        by = None  # `by ()` ≡ no grouping
    if by is None and without is None:
        # ungrouped: ONE group with the empty labelset — the group sig
        # is a plan-time constant, so no mapping join and a literal
        # single-row dim (the common sum(...)/topk(k, ...) shape pays
        # zero dim stages)
        empty = "CAST(map() AS MAP<STRING, STRING>)"
        gsig_const = sig_sql(empty)
        dim = vf.dim.sparkSession.range(1).selectExpr(
            gsig_const + " AS sig", empty + " AS labels"
        )
        fact = fact_in.selectExpr(
            gsig_const + " AS sig", "t", "value", "drop_name",
            *hist_cols, *extra,
        )
        return fact, dim

    if ctx is not None and ctx.sig_inline_ok(vf):
        # Sig pair-filter path: the fact's canonical sig embeds the full
        # labelset, so the group sig is a key-filtered subsequence of its
        # pairs — computed inline per fact row.  No per-series map
        # rebuild, no mapping broadcast join; the output dim dedups the
        # same filtered string on the (persisted) series dim, keeping the
        # plan-time row probe cheap (engine._ordered_out).
        from prometheus_spark.model.labels import (
            METADATA_LABELS,
            labels_from_sig_sql,
            sig_subset_sql,
        )

        if by is not None:
            gsig = sig_subset_sql("sig", keep=tuple(by))
        else:
            gsig = sig_subset_sql(
                "sig", drop=tuple(without) + tuple(METADATA_LABELS)
            )
        fact = fact_in.selectExpr(
            f"{gsig} AS sig", "t", "value", "drop_name", *hist_cols, *extra
        )
        gdim_rows = vf.dim.selectExpr(f"{gsig} AS sig")
        dim = ctx.dim_dedup(gdim_rows).selectExpr(
            "sig", labels_from_sig_sql("sig") + " AS labels"
        )
        return fact, dim

    glabels = group_labels_sql("labels", by, without)
    gd = vf.dim.selectExpr(
        "sig", sig_sql(glabels) + " AS __gsig", glabels + " AS __glabels"
    )
    gdim_rows = gd.select(
        F.col("__gsig").alias("sig"), F.col("__glabels").alias("labels")
    )
    dim = (
        ctx.dim_dedup(gdim_rows)
        if ctx is not None
        else gdim_rows.dropDuplicates(["sig"])
    )
    mapping = gd.select("sig", "__gsig")
    if ctx is not None:
        mapping = ctx.dim_hint(mapping)
    fact = (
        fact_in.join(mapping, "sig")
        .select(
            F.col("__gsig").alias("sig"),
            "t",
            "value",
            "drop_name",
            *hist_cols,
            *extra,
        )
    )
    return fact, dim


def _group_flag(node: AggregateExpr) -> bool:
    """Does the group key retain __name__?  Only ``by (..., __name__, ...)``
    keeps it; then the group's drop flag is the OR of its members' flags
    (delayed removal: "drop the name if any of the series drops it",
    name_label_dropping.test:119)."""
    by = node.grouping if (node.has_grouping and not node.without) else None
    return by is not None and "__name__" in by


def _has_python_stage(df) -> bool:
    """True when the frame's lineage contains a Python eval stage
    (``mapInArrow`` / ``mapInPandas`` / pandas UDF).  Forking a plan
    ABOVE such a stage runs it once per consumer — callers use this to
    decide whether to fork below a shared exchange instead."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover - py4j surface drift
        return True
    return (
        "MapInArrow" in plan
        or "MapInPandas" in plan
        or "FlatMapGroupsInPandas" in plan
        or "EvalPython" in plan
        or "PythonUDF" in plan
    )


def eval_aggregation(ctx: EvalContext, node: AggregateExpr, vf: VectorFrame, param) -> VectorFrame:
    op = node.op
    if op in ("topk", "bottomk", "limitk", "limit_ratio"):
        if op in ("topk", "bottomk"):
            # histograms never enter the value heap (engine.go:3986 region)
            vf = VectorFrame(
                fact=vf.fact.filter(F.col("value").isNotNull()), dim=vf.dim
            )
        return _eval_k_selector(ctx, node, vf, param)

    if op == "quantile":
        return _eval_quantile(ctx, node, vf, param)
    if op == "count_values":
        return _eval_count_values(ctx, node, vf, param)

    fact, gdim = _regroup_split(vf, node, ctx=ctx)
    v = F.col("value")
    hist_part = None
    mixed = False
    from prometheus_spark.engine.range_functions import hist_possible

    if op in ("sum", "avg") and hist_possible(ctx, fact):
        # sum/avg aggregate histograms too (engine.go:3716 KahanAdd);
        # groups mixing float and histogram samples are dropped with a
        # warning (engine.go:3854-3860).  The kind flags ride the float
        # aggregation's OWN shuffle (narrow rows — the hist struct is
        # projected to a bool, SQL aggregates skip the NULL value of
        # histogram rows, partial aggregation combines map-side) instead
        # of a per-group Window pre-pass that shuffled every full-width
        # histogram row a second time
        from prometheus_spark.engine import hist_arith

        # original series sig orders the Kahan fold (the reference sums
        # series in label order)
        src, _ = _regroup_split(
            VectorFrame(
                fact=vf.fact.withColumn("__ord", F.col("sig")), dim=vf.dim
            ),
            node,
            extra=["__ord"],
            ctx=ctx,
        )
        # When the input lineage contains a Python stage (rate over
        # native histograms etc.), forking the plan above it would run
        # that stage once per consumer — fork BELOW one shared (sig, t)
        # exchange instead, which Spark reuses across the float and
        # histogram branches.  Cheap-to-recompute plans (plain scans)
        # skip the pre-exchange so the float side keeps its map-side
        # partial aggregation.
        shared = _has_python_stage(src)
        if shared:
            src = src.repartition(F.col("sig"), F.col("t"))
        hist_rows = src.filter(F.col("hist").isNotNull()).select(
            "sig", "t", "hist", "__ord"
        )
        hist_part = hist_arith.group_sum(
            ctx, hist_rows, avg=op == "avg", pre_partitioned=shared,
        )
        fact = src.select(
            "sig", "t", "value", "drop_name",
            F.col("hist").isNotNull().alias("__hh"),
        )
        mixed = True
    elif op not in ("count", "group"):
        # float aggregations ignore histogram samples (value NULL) — the
        # reference warns & drops them; count/group/count_values see every
        # series (count_values renders histograms as their Go string)
        fact = fact.filter(v.isNotNull())

    masked = "(CASE WHEN NOT isnan(value) THEN value END)"  # NaN → NULL
    bad = f"max(CAST(isnan(value) OR abs(value) = {_INF_SQL} AS INT)) = 1"
    if op == "sum":
        agg = kahan_sum_sql("value") if ctx.kahan else "sum(value)"
    elif op == "avg":
        agg = avg_sql("value", kahan=ctx.kahan)
    elif op == "count":
        agg = "count(1)"
    elif op == "min":
        # NaN only if all values in the group are NaN (engine.go:3681-3690)
        agg = f"coalesce(min({masked}), {_NAN_SQL})"
    elif op == "max":
        agg = f"coalesce(max({masked}), {_NAN_SQL})"
    elif op == "group":
        agg = "1.0D"
    elif op == "stddev":
        # Welford in the reference; any NaN or ±Inf in group → NaN
        agg = (
            f"CASE WHEN {bad} THEN {_NAN_SQL} "
            f"ELSE coalesce(stddev_pop(value), {_NAN_SQL}) END"
        )
    elif op == "stdvar":
        agg = (
            f"CASE WHEN {bad} THEN {_NAN_SQL} "
            f"ELSE coalesce(var_pop(value), {_NAN_SQL}) END"
        )
    else:
        raise PromQLEvalError(f"unsupported aggregator {op}")

    flag = "bool_or(drop_name)" if _group_flag(node) else "false"
    aggs = [
        F.expr(f"CAST({agg} AS DOUBLE)").alias("value"),
        F.expr(flag).alias("drop_name"),
    ]
    if mixed:
        aggs += [
            F.expr("max(CAST(value IS NOT NULL AS INT)) = 1").alias("__gf"),
            F.expr("max(CAST(__hh AS INT)) = 1").alias("__gh"),
        ]
    out = fact.groupBy("sig", "t").agg(*aggs)
    mixed_keys = None
    if mixed:
        # groups with both kinds: drop from BOTH sides (float rows via
        # the flag filter here; histogram fold output via an anti join
        # against this almost-always-empty key set — both branches hang
        # off the same exchange, which Spark reuses)
        mixed_keys = out.filter(F.col("__gf") & F.col("__gh")).select("sig", "t")
        out = out.filter(F.col("__gf") & ~F.col("__gh")).drop("__gf", "__gh")
    result = out.selectExpr(
        "sig", "t", "t AS sample_t", "value", "drop_name"
    )
    if hist_part is not None:
        from prometheus_spark.model.schema import HISTOGRAM_TYPE

        hist_part = hist_part.drop("drop_name")
        if mixed_keys is not None:
            hist_part = hist_part.join(mixed_keys, ["sig", "t"], "left_anti")
        if _group_flag(node):
            hflags = src.groupBy("sig", "t").agg(
                F.bool_or("drop_name").alias("drop_name")
            )
            hist_part = hist_part.join(hflags, ["sig", "t"], "left").withColumn(
                "drop_name", F.coalesce(F.col("drop_name"), F.lit(False))
            )
        else:
            hist_part = hist_part.withColumn("drop_name", F.lit(False))
        result = result.withColumn(
            "hist", F.lit(None).cast(HISTOGRAM_TYPE)
        ).unionByName(hist_part.select(*result.columns, "hist"))
    return VectorFrame(fact=result, dim=gdim)


# ---------------------------------------------------------------------------
# SQL-string aggregate builders — composed in Python, shipped in ONE
# selectExpr/F.expr round trip (plan-construction latency: py4j-per-Column
# chatter dominated interactive queries; same collapse as
# range_functions._extrapolated).

_NAN_SQL = "CAST('NaN' AS DOUBLE)"
_INF_SQL = "CAST('Infinity' AS DOUBLE)"


def kahan_sum_sql(v: str) -> str:
    """SQL form of :func:`_kahan_sum_agg` — Kahan-compensated sum as an
    array fold (engine.go:3714)."""
    t = f"(acc.s + x)"
    step = (
        "(acc, x) -> named_struct("
        f"'s', {t}, "
        f"'c', CASE WHEN abs({t}) = {_INF_SQL} THEN 0.0D "
        f"WHEN abs(acc.s) >= abs(x) THEN acc.c + ((acc.s - {t}) + x) "
        f"ELSE acc.c + ((x - {t}) + acc.s) END)"
    )
    return (
        f"aggregate(array_sort(collect_list({v})), "
        f"named_struct('s', 0.0D, 'c', 0.0D), {step}, "
        "acc -> acc.s + acc.c)"
    )


def avg_sql(v: str, kahan: bool) -> str:
    """SQL form of :func:`_avg_agg` — mean with overflow fallback.

    The divisor is NULL (not 0) for groups without float samples: such
    groups only occur on the mixed float/histogram path, are filtered
    out right after the aggregation, and must not trip ANSI
    divide-by-zero on the way."""
    n = f"nullif(CAST(count({v}) AS DOUBLE), 0.0D)"
    s = kahan_sum_sql(v) if kahan else f"sum({v})"
    direct = f"({s} / {n})"
    any_inf = f"max(CAST(abs({v}) = {_INF_SQL} AS INT)) = 1"
    any_nan = f"max(CAST(isnan({v}) AS INT)) = 1"
    scale, unscale = repr(2.0**-128) + "D", repr(2.0**128) + "D"
    scaled_v = f"({v} * {scale})"
    s2 = kahan_sum_sql(scaled_v) if kahan else f"sum({scaled_v})"
    scaled = f"(({s2} / {n}) * {unscale})"
    return (
        f"CASE WHEN abs({direct}) = {_INF_SQL} "
        f"AND NOT ({any_inf}) AND NOT ({any_nan}) "
        f"THEN {scaled} ELSE {direct} END"
    )


def sorted_values_sql(v: str) -> str:
    """SQL form of :func:`sorted_values_agg` — ascending, NaN first."""
    return (
        f"array_sort(collect_list(named_struct("
        f"'k', CASE WHEN isnan({v}) THEN 0 ELSE 1 END, 'v', {v})))"
    )


def quantile_sql(arr: str, phi: str) -> str:
    """SQL form of :func:`quantile_of_sorted` — φ·(n−1) rank with linear
    interpolation (promql/quantile.go:717).  ``arr`` should be a simple
    column reference (it is repeated several times)."""
    rank = f"(({phi}) * CAST(size({arr}) - 1 AS DOUBLE))"
    lo = f"CAST(floor({rank}) AS INT)"
    hi = f"CAST(ceil({rank}) AS INT)"
    w = f"({rank} - floor({rank}))"
    interp = (
        f"(element_at({arr}, {lo} + 1).v * (1.0D - {w}) "
        f"+ element_at({arr}, {hi} + 1).v * {w})"
    )
    return (
        f"CASE WHEN size({arr}) = 0 THEN {_NAN_SQL} "
        f"WHEN isnan({phi}) THEN {_NAN_SQL} "
        f"WHEN ({phi}) < 0 THEN CAST('-Infinity' AS DOUBLE) "
        f"WHEN ({phi}) > 1 THEN {_INF_SQL} "
        f"ELSE {interp} END"
    )


def _kahan_sum_agg(v: Column) -> Column:
    """Kahan-compensated sum as an array fold (engine.go:3714) — exact for
    catastrophic-cancellation inputs like [2, 8, 1e100, -1e100]."""
    folded = F.aggregate(
        F.array_sort(F.collect_list(v)),
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("c")),
        _kahan_step,
    )
    return folded["s"] + folded["c"]


def _kahan_step(acc, x):
    t = acc["s"] + x
    # c += (s - t) + x — the inner sum MUST bind first ((s−t)+x cancels
    # exactly; left-grouping would absorb c into the huge intermediate)
    c = F.when(
        F.abs(acc["s"]) >= F.abs(x), acc["c"] + ((acc["s"] - t) + x)
    ).otherwise(acc["c"] + ((x - t) + acc["s"]))
    big = F.abs(t) == F.lit(float("inf"))
    return F.struct(t.alias("s"), F.when(big, F.lit(0.0)).otherwise(c).alias("c"))


def _avg_agg(v: Column, kahan: bool) -> Column:
    """Mean with overflow fallback (engine.go AVG: direct mean until the
    running sum would overflow, then switch strategy).  The fallback here
    scales inputs by 2^-128 — exact in binary floating point — instead of
    sequential incremental mean; both avoid the overflow."""
    n = F.count(v).cast("double")  # double: /0 must stay IEEE, not ANSI-error
    s = _kahan_sum_agg(v) if kahan else F.sum(v)
    direct = s / n
    any_inf = F.max((F.abs(v) == F.lit(float("inf"))).cast("int")) == 1
    any_nan = F.max(F.isnan(v).cast("int")) == 1
    scale = 2.0**-128
    scaled = (
        (_kahan_sum_agg(v * F.lit(scale)) if kahan else F.sum(v * F.lit(scale))) / n
    ) * F.lit(2.0**128)
    overflowed = F.abs(direct) == F.lit(float("inf"))
    return F.when(overflowed & ~any_inf & ~any_nan, scaled).otherwise(direct)


def quantile_of_sorted(arr: Column, phi: Column) -> Column:
    """Exact quantile over a pre-sorted array of (k, v) structs with NaN
    first (promql/quantile.go:717): rank = φ·(n−1), linear interpolation
    between adjacent order statistics.  NaN sorts as the smallest value."""
    n = F.size(arr)
    rank = phi * (n - 1).cast("double")
    lo = F.floor(rank).cast("int")
    hi = F.ceil(rank).cast("int")
    w = rank - lo
    v_lo = F.element_at(arr, lo + 1)["v"]
    v_hi = F.element_at(arr, hi + 1)["v"]
    interp = v_lo * (1.0 - w) + v_hi * w
    return (
        F.when(n == 0, _NAN())
        .when(F.isnan(phi), _NAN())
        .when(phi < 0, F.lit(float("-inf")))
        .when(phi > 1, F.lit(float("inf")))
        .otherwise(interp)
    )


def sorted_values_agg(v: Column) -> Column:
    """collect values sorted ascending with NaN FIRST (Go sorts NaN below
    -Inf in the reference's order-statistic code)."""
    return F.array_sort(
        F.collect_list(
            F.struct(F.when(F.isnan(v), 0).otherwise(1).alias("k"), v.alias("v"))
        )
    )


def float_sql(x: float) -> str:
    """A Python float as a Spark SQL double literal (NaN/±Inf included)."""
    if math.isnan(x):
        return _NAN_SQL
    if math.isinf(x):
        return _INF_SQL if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(float(x)) + "D"


def _eval_quantile(ctx: EvalContext, node: AggregateExpr, vf: VectorFrame, param) -> VectorFrame:
    group_flag = _group_flag(node)
    # float-only: histogram rows (value NULL) are warned-and-dropped
    fact, gdim = _regroup_split(vf, node, ctx=ctx)
    df = fact.filter(F.col("value").isNotNull())
    arr = F.expr(sorted_values_sql("value")).alias("__arr")
    flag = F.expr("bool_or(drop_name)" if group_flag else "false").alias(
        "drop_name"
    )
    if isinstance(param, ConstScalar):
        grouped = df.groupBy("sig", "t").agg(arr, flag)
        phi = float_sql(float(param.value))
    elif isinstance(param, ScalarFrame):
        # per-step φ (e.g. quantile(scalar(foo), v)) — broadcast join on t
        p = param.df.withColumnRenamed("value", "__phi")
        grouped = (
            df.join(F.broadcast(p), "t", "left")
            .groupBy("sig", "t")
            .agg(
                arr,
                F.expr("first(__phi)").alias("__p"),
                flag,
            )
        )
        phi = "__p"
    else:
        raise PromQLEvalError("quantile: unsupported parameter type")
    return VectorFrame(
        fact=grouped.selectExpr(
            "sig",
            "t",
            "t AS sample_t",
            f"CAST({quantile_sql('__arr', phi)} AS DOUBLE) AS value",
            "drop_name",
        ),
        dim=gdim,
    )


def _eval_count_values(
    ctx: EvalContext, node: AggregateExpr, vf: VectorFrame, param
) -> VectorFrame:
    """count_values("label", v) — reference: engine.go:4208.

    Split contract: the rendered value string is a per-ROW fact, but the
    output labelset only varies per (group sig, value string) pair — an
    output-cardinality-bounded dim.  The per-row work is the render plus
    one narrow pair join; map building and re-signing run on the pair
    dim."""
    from prometheus_spark.engine.values import StringValue

    if not isinstance(param, StringValue):
        raise PromQLEvalError("count_values: parameter must be a string literal")
    lbl = param.value
    if not _valid_label_name(lbl):
        raise PromQLEvalError(f"count_values: invalid label name {lbl!r}")
    fact, gdim = _regroup_split(vf, node, ctx=ctx)
    # Go renders sample values with minimal float formatting (%g-like via
    # strconv); format_number-style trailing ".0" must be stripped.
    # Histogram samples render via FloatHistogram.String()
    # (aggregators.test:447) — Arrow-batched UDF on the tiny hist subset.
    vstr = _format_float_expr(F.col("value"))
    if "hist" in fact.columns:
        from prometheus_spark.shipping import ensure_shipped

        ensure_shipped(ctx.spark)
        vstr = F.when(F.col("value").isNotNull(), vstr).otherwise(
            _hist_string_udf()(F.col("hist"))
        )
    # one narrow group-dim join attaches the (small) group labels, the
    # new labelset and its sig compute per row (they vary per rendered
    # value — genuinely per-row label state), and the count groupBy
    # partial-aggregates one labels map per output group per partition
    fact = fact.withColumn("__vs", vstr).join(ctx.dim_hint(gdim), "sig")
    new_labels = F.map_concat(
        F.map_filter("labels", lambda k, _: k != F.lit(lbl)),
        F.create_map(F.lit(lbl), F.col("__vs")),
    )
    regrouped = fact.select(
        sig_expr(new_labels).alias("__nsig"),
        new_labels.alias("__nlabels"),
        "t",
        "drop_name",
    )
    flag = (
        F.bool_or("drop_name").alias("drop_name")
        if _group_flag(node)
        else F.lit(False).alias("drop_name")
    )
    out = regrouped.groupBy("__nsig", "t").agg(
        F.first("__nlabels").alias("__nlabels"),
        F.count("*").cast("double").alias("value"),
        flag,
    )
    dim = out.select(
        F.col("__nsig").alias("sig"), F.col("__nlabels").alias("labels")
    ).dropDuplicates(["sig"])
    return VectorFrame(
        fact=out.select(
            F.col("__nsig").alias("sig"), "t",
            F.col("t").alias("sample_t"), "value", "drop_name",
        ),
        dim=dim,
    )


def _hist_string_udf():
    from pyspark.sql import types as T

    return F.pandas_udf(_hist_string_series, T.StringType())


def _hist_string_series(h):
    import pandas as pd

    from prometheus_spark.model.histogram import from_row

    def one(d):
        # an all-NULL struct arrives as a row of NaNs/Nones
        if d is None or d.get("schema") is None or d.get("schema") != d.get("schema"):
            return None
        fh = from_row(d)
        return None if fh is None else fh.go_string()

    if isinstance(h, pd.DataFrame):  # struct input as a frame of fields
        return pd.Series(
            [one(rec) for rec in h.to_dict("records")], index=h.index, dtype=object
        )
    return h.map(lambda d: one(dict(d)) if d is not None else None)


def _format_float_expr(v: Column) -> Column:
    """Render a double the way Go strconv.FormatFloat(v,'g',-1,64) does for
    the common cases: integers lose the trailing .0."""
    as_long = v.cast("long")
    return (
        F.when(F.isnan(v), F.lit("NaN"))
        .when(v == F.lit(float("inf")), F.lit("+Inf"))
        .when(v == F.lit(float("-inf")), F.lit("-Inf"))
        .when((v == as_long.cast("double")), as_long.cast("string"))
        .otherwise(v.cast("string"))
    )


def _valid_label_name(name: str) -> bool:
    import re

    return bool(re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", name))


def _eval_k_selector(
    ctx: EvalContext, node: AggregateExpr, vf: VectorFrame, param
) -> VectorFrame:
    """topk/bottomk/limitk/limit_ratio — keep whole input series rows
    (labels unchanged, __name__ kept; reference: engine.go:3986)."""
    op = node.op
    by = node.grouping if (node.has_grouping and not node.without) else None
    without = node.grouping if (node.has_grouping and node.without) else None
    # split contract: k-selectors return whole input rows (labels
    # untouched) — group sigs come from the dim, the heap window runs on
    # narrow fact rows, and the dim passes through.  Ungrouped calls
    # (the common topk(k, x)) use the constant empty-group sig: no join.
    if (by is None or not by) and without is None:
        from prometheus_spark.model.labels import sig_sql

        df = vf.fact.withColumn(
            "gsig",
            F.expr(sig_sql("CAST(map() AS MAP<STRING, STRING>)")),
        )
    elif ctx.sig_inline_ok(vf):
        # sig pair-filter path (see _regroup_split): the heap window's
        # partition key computes inline from the fact's own sig — no
        # dim mapping join
        from prometheus_spark.model.labels import METADATA_LABELS, sig_subset_sql

        if by is not None:
            gsig = sig_subset_sql("sig", keep=tuple(by))
        else:
            gsig = sig_subset_sql(
                "sig", drop=tuple(without) + tuple(METADATA_LABELS)
            )
        df = vf.fact.withColumn("gsig", F.expr(gsig))
    else:
        glabels = group_labels_expr("labels", by, without)
        gmap = vf.dim.select("sig", sig_expr(glabels).alias("gsig"))
        df = vf.fact.join(ctx.dim_hint(gmap), "sig")
    out_cols = ["sig", "t", "sample_t", "value", "drop_name"] + (
        ["hist"] if "hist" in df.columns and op in ("limitk", "limit_ratio") else []
    )

    if op == "limit_ratio":
        # The reference's exact sampling offset — xxhash64(seed 0) of the
        # Go label encoding — so our pick matches the reference engine
        # series-for-series (complement property AND distribution;
        # engine.go AddRatioSample).  Arrow-batched UDF; cardinality =
        # series count, not the sample hot path.
        from prometheus_spark.model.gohash import ratio_offset_udf
        from prometheus_spark.shipping import ensure_shipped

        ensure_shipped(ctx.spark)
        u = ratio_offset_udf()(F.col("sig"))
        if isinstance(param, ConstScalar):
            if math.isnan(param.value):
                raise PromQLEvalError("Ratio value is NaN")
            r = F.lit(max(-1.0, min(1.0, param.value)))
        elif isinstance(param, ScalarFrame):
            # per-step ratio (e.g. limit_ratio(time() % 17/17, v)) —
            # broadcast join on t, clamp to [-1, 1], NaN selects nothing
            p = param.df.withColumnRenamed("value", "__r")
            df = df.join(F.broadcast(p), "t", "left")
            rv = F.col("__r")
            r = F.when(_not_nan(rv), F.least(F.greatest(rv, F.lit(-1.0)), F.lit(1.0)))
        else:
            raise PromQLEvalError("limit_ratio: unsupported parameter type")
        keep = F.when(r >= 0, u < r).otherwise(u >= F.lit(1.0) + r)
        out = df.filter(keep).drop("gsig")
        return VectorFrame(fact=out.select(*out_cols), dim=vf.dim)

    # k: constant, or per-step scalar (e.g. topk(scalar(foo), v) — k varies
    # across the range grid, reference engine.go:1590 fParams)
    if isinstance(param, ConstScalar):
        if math.isnan(param.value):
            raise PromQLEvalError("Parameter value is NaN")
        if int(param.value) < 1:
            return VectorFrame(fact=vf.fact.filter(F.lit(False)), dim=vf.dim)
        k = F.lit(int(param.value))
    elif isinstance(param, ScalarFrame):
        p = param.df.withColumnRenamed("value", "__k")
        df = df.join(F.broadcast(p), "t", "left")
        kv = F.col("__k")
        # per-step NaN/invalid k selects nothing at that step
        k = F.when(_not_nan(kv) & (kv >= 1), kv.cast("long")).otherwise(F.lit(0))
    else:
        raise PromQLEvalError(f"{op}: unsupported parameter type")

    v = F.col("value")
    if op == "topk":
        # NaN never enters the heap unless the group is all-NaN; order by
        # value desc with NaN masked to NULL sorted last.
        order = [F.when(_not_nan(v), v).desc_nulls_last(), F.col("sig").asc()]
    elif op == "bottomk":
        order = [F.when(_not_nan(v), v).asc_nulls_last(), F.col("sig").asc()]
    else:  # limitk — arbitrary but deterministic order
        order = [F.col("sig").asc()]
    w = Window.partitionBy("gsig", "t").orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return VectorFrame(fact=out.select(*out_cols), dim=vf.dim)
