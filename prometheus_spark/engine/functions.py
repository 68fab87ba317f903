"""Instant-vector functions — pure column projections where possible.

Reference dispatch map: promql/functions.go:2658-2752.  Every function that
changes the sample's meaning drops ``__name__`` from the output labels
(engine.go:4254 ``cleanupMetricLabels``).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prometheus_spark.engine.aggregations import PromQLEvalError
from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.values import (
    ConstScalar,
    ScalarFrame,
    StringValue,
    VectorFrame,
)
from prometheus_spark.model.labels import drop_name_expr, sig_expr
from prometheus_spark.parser.ast import (
    MatchType,
    MatrixSelector,
    ParenExpr,
    VectorSelector,
)

def _NAN():  # lazily built: F.lit needs an active SparkContext
    return F.lit(float("nan"))

_SIMPLE_MATH = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "exp": F.exp,
    "sqrt": F.sqrt,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
    "deg": F.degrees,
    "rad": F.radians,
    "sgn": F.signum,
}


def _project(vf: VectorFrame, value: Column, keep_name: bool = False) -> VectorFrame:
    # delayed name removal: labels stay intact (on the dim); meaning-
    # changing functions flag the row and finalization strips the
    # metadata labels.  Point-wise math never touches the labelset —
    # fact-only projection, dim passes through.
    flag = F.col("drop_name") if keep_name else F.lit(True)
    # computed samples live at the eval timestamp: nested timestamp() sees
    # the step time, not the source sample's time (at_modifier.test:173).
    # Histogram samples (value NULL) are ignored by point-wise float math.
    return VectorFrame(
        fact=vf.fact.filter(F.col("value").isNotNull()).select(
            "sig",
            "t",
            F.col("t").alias("sample_t"),
            value.cast("double").alias("value"),
            flag.alias("drop_name"),
        ),
        dim=vf.dim,
    )


def eval_simple_math(func: str, vf: VectorFrame) -> VectorFrame:
    fn = _SIMPLE_MATH[func]
    v = F.col("value")
    out = fn(v)
    if func in ("ceil", "floor"):
        # Spark ceil/floor return LONG — ±Inf/NaN must pass through
        out = F.when(F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), v).otherwise(
            out.cast("double")
        )
    if func in ("ln",):
        # Go math.Log: ln(0) = -Inf, ln(<0) = NaN; Spark log(x≤0) = NULL
        out = (
            F.when(v > 0, F.log(v))
            .when(v == 0, F.lit(float("-inf")))
            .otherwise(_NAN())
        )
    if func == "log2":
        out = F.when(v > 0, F.log2(v)).when(v == 0, F.lit(float("-inf"))).otherwise(_NAN())
    if func == "log10":
        out = F.when(v > 0, F.log10(v)).when(v == 0, F.lit(float("-inf"))).otherwise(_NAN())
    if func in ("asin", "acos"):
        # Spark returns NaN outside domain already (Java Math) — fine
        pass
    if func == "acosh":
        out = F.when(v >= 1, F.acosh(v)).otherwise(_NAN())
    if func == "atanh":
        out = F.when((v > -1) & (v < 1), F.atanh(v)).otherwise(
            F.when(v == 1, F.lit(float("inf"))).when(v == -1, F.lit(float("-inf"))).otherwise(_NAN())
        )
    if func == "sqrt":
        out = F.when(v >= 0, F.sqrt(v)).otherwise(_NAN())
    return _project(vf, out)


def eval_round(vf: VectorFrame, to: float) -> VectorFrame:
    """round(v, to): nearest multiple of ``to``, halves round up
    (functions.go:1159)."""
    if to == 0:
        raise PromQLEvalError("round: nearest must not be 0")
    v = F.col("value")
    # multiply by the reciprocal, exactly like the reference — the float
    # rounding of v/to vs v*(1/to) differs at representation boundaries
    inv = 1.0 / to
    out = F.floor(v * F.lit(inv) + F.lit(0.5)) / F.lit(inv)
    out = F.when(F.isnan(v) | (v == F.lit(float("inf"))) | (v == F.lit(float("-inf"))), v).otherwise(out)
    return _project(vf, out)


def eval_clamp(vf: VectorFrame, lo, hi) -> VectorFrame:
    """clamp (functions.go:1137): min > max ⇒ drop all elements; NaN
    propagates."""
    l, h = F.lit(lo), F.lit(hi)
    if isinstance(lo, float) and isinstance(hi, float) and lo > hi:
        return VectorFrame(
            fact=vf.fact.filter(F.lit(False)), dim=vf.dim
        )
    v = F.col("value")
    # Go math.Max/Min propagate NaN — a NaN bound makes every output NaN
    out = F.when(F.isnan(v) | F.isnan(l) | F.isnan(h), _NAN()).otherwise(
        F.least(F.greatest(v, l), h)
    )
    return _project(vf, out)


def eval_clamp_one(vf: VectorFrame, bound: float, is_max: bool) -> VectorFrame:
    v = F.col("value")
    out = F.when(F.isnan(v) | F.isnan(F.lit(bound)), _NAN()).otherwise(
        F.least(v, F.lit(bound)) if is_max else F.greatest(v, F.lit(bound))
    )
    return _project(vf, out)


_DATE_FUNCS = {
    "minute": lambda ts: F.minute(ts),
    "hour": lambda ts: F.hour(ts),
    "day_of_week": lambda ts: F.dayofweek(ts) - 1,  # PromQL: 0=Sunday
    "day_of_month": lambda ts: F.dayofmonth(ts),
    "day_of_year": lambda ts: F.dayofyear(ts),
    "days_in_month": lambda ts: F.dayofmonth(F.last_day(ts)),
    "month": lambda ts: F.month(ts),
    "year": lambda ts: F.year(ts),
}


def eval_date_func(func: str, vf: VectorFrame) -> VectorFrame:
    """Date fields of the sample value interpreted as epoch seconds, UTC
    (functions.go:2602-2651).  Session timezone must be UTC."""
    ts = F.timestamp_seconds(F.col("value"))
    return _project(vf, _DATE_FUNCS[func](ts))


def eval_timestamp(vf: VectorFrame) -> VectorFrame:
    # timestamp() applies to histogram samples as well — no float filter
    return VectorFrame(
        fact=vf.fact.select(
            "sig",
            "t",
            F.col("t").alias("sample_t"),
            (F.col("sample_t") / 1000.0).cast("double").alias("value"),
            F.lit(True).alias("drop_name"),
        ),
        dim=vf.dim,
    )


def eval_start_timestamp(vf: VectorFrame) -> VectorFrame:
    """start_timestamp(v) (functions.go:1920 funcStartTimestamp,
    experimental): the sample's start (created) timestamp in seconds.
    Only series whose samples actually carry start-timestamp data produce
    output (unset positions within such a series emit 0, mirroring the
    reference's zero-filled ST slices); expression inputs lose the ST
    column entirely → empty result."""
    from pyspark.sql.window import Window

    if "st" not in vf.fact.columns:
        return VectorFrame(
            fact=vf.fact.filter(F.lit(False)).select(
                "sig", "t", "sample_t", "value",
                F.lit(True).alias("drop_name"),
            ),
            dim=vf.dim,
        )
    # applies to histogram samples too — no float filter
    has_any = F.max(F.col("st").isNotNull().cast("int")).over(Window.partitionBy("sig"))
    return VectorFrame(
        fact=vf.fact.withColumn("__has_st", has_any)
        .filter(F.col("__has_st") == 1)
        .select(
            "sig",
            "t",
            F.col("t").alias("sample_t"),
            (F.coalesce(F.col("st"), F.lit(0)) / 1000.0).cast("double").alias("value"),
            F.lit(True).alias("drop_name"),
        ),
        dim=vf.dim,
    )


def eval_scalar(ctx: EvalContext, vf: VectorFrame) -> ScalarFrame:
    """scalar(v): the single *float* element's value, else NaN
    (functions.go:1174 — histogram samples don't count)."""
    per_step = vf.fact.groupBy("t").agg(
        F.count("value").alias("n"),  # non-null = float samples only
        F.first("value", ignorenulls=True).alias("v"),
    )
    out = (
        ctx.grid.join(per_step, "t", "left")
        .select("t", F.when(F.col("n") == 1, F.col("v")).otherwise(_NAN()).alias("value"))
    )
    return ScalarFrame(out)


def eval_vector(ctx: EvalContext, scalar) -> VectorFrame:
    """vector(s): single empty-labeled series (functions.go:2523)."""
    empty = F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    if isinstance(scalar, ConstScalar):
        df = ctx.grid.select(
            F.lit("").alias("sig"),
            empty.alias("labels"),
            "t",
            F.col("t").alias("sample_t"),
            F.lit(float(scalar.value)).alias("value"),
            F.lit(False).alias("drop_name"),
        )
    else:
        df = scalar.df.select(
            F.lit("").alias("sig"),
            empty.alias("labels"),
            "t",
            F.col("t").alias("sample_t"),
            F.col("value"),
            F.lit(False).alias("drop_name"),
        )
    return VectorFrame(df)


def eval_absent(ctx: EvalContext, vf: VectorFrame, inferred: dict[str, str]) -> VectorFrame:
    """absent(v) — 1 for steps where v has no elements (functions.go:1717);
    labels inferred from equality matchers of the argument selector."""
    present = vf.fact.select("t").distinct()
    keys = sorted(inferred)
    labels = (
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]), F.array(*[F.lit(inferred[k]) for k in keys])
        )
        if keys
        else F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    )
    out = (
        ctx.grid.join(present, "t", "left_anti")
        .select(
            sig_expr(labels).alias("sig"),
            labels.alias("labels"),
            "t",
            F.col("t").alias("sample_t"),
            F.lit(1.0).alias("value"),
            F.lit(False).alias("drop_name"),
        )
    )
    return VectorFrame(out)


def eval_absent_over_time(
    ctx: EvalContext, windowed: DataFrame, inferred: dict[str, str]
) -> VectorFrame:
    return eval_absent(ctx, VectorFrame(windowed), inferred)


def absent_labels(node) -> dict[str, str]:
    """absent()/absent_over_time() label inference: equality matchers of the
    argument selector (promql/functions.go createLabelsForAbsentFunction).
    Subqueries infer nothing — the inner expression is arbitrary."""
    while isinstance(node, ParenExpr):
        node = node.expr
    if isinstance(node, MatrixSelector):
        node = node.selector
        while isinstance(node, ParenExpr):
            node = node.expr
    if not isinstance(node, VectorSelector):
        return {}
    out: dict[str, str] = {}
    dropped: set[str] = set()
    for m in node.matchers:
        if m.name == "__name__":
            continue
        if m.type == MatchType.EQ and m.name not in dropped:
            if m.name in out and out[m.name] != m.value:
                dropped.add(m.name)
                out.pop(m.name, None)
            else:
                out[m.name] = m.value
        else:
            dropped.add(m.name)
            out.pop(m.name, None)
    return out


_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def eval_label_replace(
    vf: VectorFrame, dst: str, repl: str, src: str, regex: str,
    ctx: EvalContext = None,
) -> VectorFrame:
    """label_replace (functions.go:2483): fully-anchored regex on src label
    value; on match, dst := template expansion; empty result deletes dst."""
    if not _LABEL_NAME_RE.match(dst):
        raise PromQLEvalError(f"label_replace: invalid destination label {dst!r}")
    try:
        re.compile(regex)
    except re.error as e:
        raise PromQLEvalError(f"label_replace: invalid regex: {e}")
    anchored = f"^(?:{regex})$"
    srcv = F.coalesce(F.element_at("labels", F.lit(src)), F.lit(""))
    matched = srcv.rlike(anchored)
    newv = F.regexp_replace(srcv, anchored, repl)
    with_dst = F.map_concat(
        F.map_filter("labels", lambda k, _: k != F.lit(dst)),
        F.create_map(F.lit(dst), newv),
    )
    without_dst = F.map_filter("labels", lambda k, _: k != F.lit(dst))
    labels = F.when(~matched, F.col("labels")).otherwise(
        F.when(newv == "", without_dst).otherwise(with_dst)
    )
    # writing __name__ re-establishes the name: clear the drop flag
    # (name_label_dropping.test:64; reference funcLabelReplace)
    return _relabel(vf, labels, clear_flag=dst == "__name__", ctx=ctx)


def _relabel(
    vf: VectorFrame, labels: Column, clear_flag: bool, ctx: EvalContext = None
) -> VectorFrame:
    """Apply a labels→labels transform: computed once per SERIES on the
    dim; the fact swaps sigs through a narrow (sig → __nsig) join.

    Re-signing is the one place distinct SERIES can collapse onto one
    sig, which the deduped output dim then hides from the finalize-time
    collision probe — so the duplicate-labelset guard runs HERE, and
    only when a plan-time probe of the (tiny) mapping shows two series
    actually sharing a new sig (functions.test:527,591,2072,2075 pin
    the error; the probe keeps the common non-colliding relabel free of
    the result-sized guard exchange)."""
    mapping = vf.dim.select(
        "sig",
        sig_expr(labels).alias("__nsig"),
        labels.alias("__nlabels"),
    )
    flag = F.lit(False) if clear_flag else F.col("drop_name")
    hist_cols = ["hist"] if "hist" in vf.fact.columns else []
    fact = vf.fact.join(mapping.select("sig", "__nsig"), "sig").select(
        F.col("__nsig").alias("sig"), "t", "sample_t", "value",
        flag.alias("drop_name"), *hist_cols,
    )
    if ctx is not None and ctx.strict:
        colliding = ctx.probe(
            mapping,
            "relabel-collide",
            lambda m: (
                m.groupBy("__nsig")
                .count()
                .filter("count > 1")
                .limit(1)
                .count()
                > 0
            ),
        )
        if colliding:
            from prometheus_spark.engine.guards import check_unique_labelsets

            fact = check_unique_labelsets(fact)
    ndim = mapping.select(
        F.col("__nsig").alias("sig"), F.col("__nlabels").alias("labels")
    )
    dim = ctx.dim_dedup(ndim) if ctx is not None else ndim.dropDuplicates(["sig"])
    return VectorFrame(fact=fact, dim=dim)


def eval_label_join(
    vf: VectorFrame, dst: str, sep: str, srcs: list[str],
    ctx: EvalContext = None,
) -> VectorFrame:
    if not _LABEL_NAME_RE.match(dst):
        raise PromQLEvalError(f"label_join: invalid destination label {dst!r}")
    parts = [F.coalesce(F.element_at("labels", F.lit(s)), F.lit("")) for s in srcs]
    newv = F.concat_ws(sep, *parts) if parts else F.lit("")
    with_dst = F.map_concat(
        F.map_filter("labels", lambda k, _: k != F.lit(dst)),
        F.create_map(F.lit(dst), newv),
    )
    without_dst = F.map_filter("labels", lambda k, _: k != F.lit(dst))
    labels = F.when(newv == "", without_dst).otherwise(with_dst)
    return _relabel(vf, labels, clear_flag=dst == "__name__", ctx=ctx)


_NO_LE_SQL = "map_filter(labels, (k, v) -> k != 'le')"
_LE_SQL = "coalesce(element_at(labels, 'le'), '')"


def _parse_le_sql(le: str) -> str:
    """SQL-string form of :func:`_parse_le`."""
    return (
        f"(CASE WHEN lower({le}) IN ('+inf','inf','+infinity','infinity') "
        "THEN CAST('Infinity' AS DOUBLE) "
        f"WHEN lower({le}) IN ('-inf','-infinity') "
        "THEN CAST('-Infinity' AS DOUBLE) "
        f"ELSE try_cast({le} AS DOUBLE) END)"
    )


def _classic_native_conflicts(vf: VectorFrame):
    """(csig, t) keys where classic bucket series and native histograms
    coexist under the same full label set — both sides must be dropped
    with a warning (engine.go:1355-1372 ``resetHistograms``).  The
    signature keeps ``__name__`` and excludes only ``le``."""
    from prometheus_spark.model.labels import sig_sql

    if "hist" not in vf.fact.columns:
        return None
    # csig for a classic-bucket series = labels-minus-le signature,
    # computed per SERIES on the dim; native series' csig is their own
    # sig (full labels).  Facts contribute only (sig, t) pairs.
    ldim = vf.dim.selectExpr(
        "sig",
        sig_sql(_NO_LE_SQL) + " AS __csig",
        _parse_le_sql(_LE_SQL) + " AS __le",
    )
    classic_keys = (
        vf.fact.filter("value IS NOT NULL")
        .join(ldim.filter("__le IS NOT NULL").select("sig", "__csig"), "sig")
        .selectExpr("__csig AS csig", "t")
        .distinct()
    )
    native_keys = (
        vf.fact.filter("hist IS NOT NULL")
        .selectExpr("sig AS csig", "t")
        .distinct()
    )
    return classic_keys.join(native_keys, ["csig", "t"], "inner")


def filter_conflicting_native(vf: VectorFrame) -> VectorFrame:
    """Native-histogram rows minus those conflicting with classic buckets."""
    from prometheus_spark.model.labels import sig_sql

    conflicts = _classic_native_conflicts(vf)
    if conflicts is None:
        return vf
    keyed = vf.fact.selectExpr("*", "sig AS csig")
    return VectorFrame(
        fact=keyed.join(
            F.broadcast(conflicts), ["csig", "t"], "left_anti"
        ).drop("csig"),
        dim=vf.dim,
    )


def _classic_buckets(vf: VectorFrame, ctx: EvalContext = None):
    """Group ``le``-labeled bucket series by labels-minus-le (``__name__``
    kept — reference signature, engine.go:1343) per step and collect
    sorted, coalesced (le, cumulative-count) arrays (quantile.go:620
    ``coalesceBuckets``).  Output labels drop ``__name__``; colliding
    output labelsets are caught by the evaluator's uniqueness guard.
    Groups conflicting with a native histogram are removed."""
    from prometheus_spark.model.labels import sig_sql

    # Split contract: the labels-minus-le signature and the parsed le
    # are per-SERIES facts — computed once on the dim and joined onto
    # the samples by sig.  ONE groupBy then collects the whole (le, c)
    # array per (group, step); duplicate le representations ("0.2",
    # "2e-1") merge inside the sorted array by a linear fold — the
    # previous plan paid a second full shuffle just for that merge.
    bdim = vf.dim.selectExpr(
        "sig",
        sig_sql(_NO_LE_SQL) + " AS __csig",
        _NO_LE_SQL + " AS __clabels",
        _parse_le_sql(_LE_SQL) + " AS __le",
    ).filter("__le IS NOT NULL")
    mapping = (
        bdim.select("sig", "__csig", "__le")
        if ctx is None
        else ctx.dim_hint(bdim.select("sig", "__csig", "__le"))
    )
    joined = vf.fact.filter("value IS NOT NULL").join(  # hist samples aside
        mapping, "sig"
    )
    # The le domain is a per-METRIC-FAMILY constant (a handful of
    # bucket bounds), knowable at plan time from the tiny dim.  With it,
    # the bucket-array build becomes a dense pivot — one conditional sum
    # per bound — which runs as a map-side-combining HashAggregate
    # instead of a collect_list ObjectHashAggregate shuffling every
    # (sample × bound) row (measured 2× on the reference macro-bench's
    # histogram_quantile(0.9, rate(h_hundred[5m]))).  Duplicate le
    # representations ("0.2", "2e-1") parse to one double and SUM —
    # exactly coalesceBuckets' merge (quantile.go:620).  Wide or
    # unknown domains (dim-less contexts) keep the collect_list path.
    les = None
    if ctx is not None:
        les = ctx.probe(
            bdim,
            "le-domain",
            lambda b: sorted(
                r["__le"]
                for r in b.select("__le").distinct().collect()
                if r["__le"] is not None
            ),
        )
    if les and len(les) <= 64:
        from prometheus_spark.engine.aggregations import float_sql

        aggs = [
            F.sum(F.when(F.col("__le") == F.lit(v), F.col("value"))).alias(
                f"__b{i}"
            )
            for i, v in enumerate(les)
        ]
        entries = ", ".join(
            f"named_struct('le', {float_sql(v)}, 'c', __b{i})"
            for i, v in enumerate(les)
        )
        grouped = (
            joined.selectExpr("__csig AS csig", "t", "__le", "value")
            .groupBy("csig", "t")
            .agg(*aggs)
            .selectExpr(
                "csig", "t",
                f"filter(array({entries}), b -> b.c IS NOT NULL) AS bs",
            )
        )
    else:
        merge_dups = (
            "aggregate(__raw, "
            "CAST(array() AS ARRAY<STRUCT<le: DOUBLE, c: DOUBLE>>), "
            "(acc, b) -> CASE WHEN size(acc) > 0 "
            "AND element_at(acc, -1).le = b.le "
            "THEN concat(slice(acc, 1, size(acc) - 1), "
            "array(named_struct('le', b.le, "
            "'c', element_at(acc, -1).c + b.c))) "
            "ELSE concat(acc, array(b)) END)"
        )
        grouped = (
            joined.selectExpr(
                "__csig AS csig", "t",
                "named_struct('le', __le, 'c', value) AS b",
            )
            .groupBy("csig", "t")
            .agg(F.expr("sort_array(collect_list(b))").alias("__raw"))
            .selectExpr("csig", "t", merge_dups + " AS bs")
        )
    conflicts = _classic_native_conflicts(vf)
    if conflicts is not None:
        grouped = grouped.join(F.broadcast(conflicts), ["csig", "t"], "left_anti")
    cdim = bdim.select(
        F.col("__csig").alias("sig"), F.col("__clabels").alias("labels")
    )
    dim = ctx.dim_dedup(cdim) if ctx is not None else cdim.dropDuplicates(["sig"])
    return grouped.selectExpr("csig AS sig", "t", "bs"), dim


def eval_histogram_fraction_classic(
    ctx: EvalContext, lower: float, upper: float, vf: VectorFrame
) -> VectorFrame:
    """Classic-bucket histogram_fraction (promql/quantile.go:520
    ``BucketFraction``): fraction of observations in [lower, upper] with
    linear interpolation inside buckets; implemented as a single array
    fold carrying (rank, lowerRank, upperRank, set-flags)."""
    from prometheus_spark.engine.aggregations import float_sql

    buckets, bdim = _classic_buckets(vf, ctx)
    nan = "CAST('NaN' AS DOUBLE)"
    minf = "CAST('-Infinity' AS DOUBLE)"
    pinf = "CAST('Infinity' AS DOUBLE)"
    has_inf = f"exists(bs, b -> b.le = {pinf})"
    total = "element_at(bs, -1).c"

    if math.isnan(lower) or math.isnan(upper):
        inner = nan
        staged = buckets
    elif lower >= upper:
        inner = "0.0D"
        staged = buckets
    else:
        lo, up = float_sql(float(lower)), float_sql(float(upper))
        first_lb = (
            f"CASE WHEN element_at(bs, 1).le <= 0 THEN {minf} ELSE 0.0D END"
        )
        init = (
            "named_struct('rank', 0.0D, 'lrank', 0.0D, 'urank', 0.0D, "
            f"'lset', false, 'uset', false, 'lb', {first_lb})"
        )

        # For a −Inf-wide bucket interpolation degenerates to the
        # bucket's cumulative count (see BucketFraction comment).
        def interp(v: str) -> str:
            return (
                f"(CASE WHEN acc.lb = {minf} THEN b.c ELSE "
                f"acc.rank + (b.c - acc.rank) * (({v}) - acc.lb) "
                "/ (b.le - acc.lb) END)"
            )

        lrank1 = (
            "(CASE WHEN acc.lset THEN acc.lrank "
            f"WHEN acc.lb >= {lo} THEN acc.rank "
            f"WHEN acc.lb < {lo} AND b.le > {lo} THEN {interp(lo)} "
            "ELSE acc.lrank END)"
        )
        lset2 = f"(acc.lset OR acc.lb >= {lo} OR (acc.lb < {lo} AND b.le > {lo}))"
        urank1 = (
            "(CASE WHEN acc.uset THEN acc.urank "
            f"WHEN acc.lb >= {up} THEN acc.rank "
            f"WHEN acc.lb < {up} AND b.le > {up} THEN {interp(up)} "
            "ELSE acc.urank END)"
        )
        uset2 = f"(acc.uset OR acc.lb >= {up} OR (acc.lb < {up} AND b.le > {up}))"
        step = (
            "(acc, b) -> named_struct("
            f"'rank', b.c, 'lrank', {lrank1}, 'urank', {urank1}, "
            f"'lset', {lset2}, 'uset', {uset2}, 'lb', b.le)"
        )
        # stage the fold once so lrank/urank don't duplicate the aggregate
        staged = buckets.selectExpr(
            "sig", "t", "bs",
            f"aggregate(bs, {init}, {step}) AS __acc",
        )
        lrank = (
            f"(CASE WHEN NOT __acc.lset OR __acc.lrank > {total} "
            f"THEN {total} ELSE __acc.lrank END)"
        )
        urank = (
            f"(CASE WHEN NOT __acc.uset OR __acc.urank > {total} "
            f"THEN {total} ELSE __acc.urank END)"
        )
        inner = f"(({urank} - {lrank}) / {total})"

    value = (
        f"CASE WHEN {total} = 0.0D OR NOT {has_inf} THEN {nan} "
        f"ELSE {inner} END"
    )
    out = staged.selectExpr(
        "sig", "t", "t AS sample_t",
        f"CAST({value} AS DOUBLE) AS value", "true AS drop_name",
    )
    return VectorFrame(fact=out, dim=bdim)


def eval_histogram_quantile_classic(ctx: EvalContext, phi, vf: VectorFrame) -> VectorFrame:
    """Classic ``le``-labeled bucket quantile (promql/quantile.go:105
    ``BucketQuantile``): group series by labels-minus-le, coalesce buckets,
    enforce monotonicity, linear interpolation within the bucket; highest
    bucket must be +Inf.

    Implemented as a per-(group, step) sort + array fold — JVM-side.
    """
    if not isinstance(phi, ConstScalar):
        raise PromQLEvalError("histogram_quantile: scalar parameter required")
    q = float(phi.value)

    buckets, bdim = _classic_buckets(vf, ctx)

    # merge duplicate le's (sum), enforce monotonicity (running max), then
    # interpolate — all array expressions composed as SQL strings.
    nan = "CAST('NaN' AS DOUBLE)"
    pinf = "CAST('Infinity' AS DOUBLE)"
    has_inf = f"exists(bs, b -> b.le = {pinf})"

    if math.isnan(q):
        core = nan
        staged = buckets
    elif q < 0:
        core = "CAST('-Infinity' AS DOUBLE)"
        staged = buckets
    elif q > 1:
        core = pinf
        staged = buckets
    else:
        # running max of cumulative counts
        # (quantile.go:668 ensureMonotonicAndIgnoreSmallDeltas, simple form)
        mono = (
            "aggregate(bs, CAST(array() AS ARRAY<STRUCT<le: DOUBLE, c: DOUBLE>>), "
            "(acc, b) -> concat(acc, array(named_struct('le', b.le, "
            "'c', CASE WHEN size(acc) > 0 "
            "THEN greatest(b.c, element_at(acc, -1).c) ELSE b.c END))))"
        )
        rank = f"({q!r}D * element_at(__mono, -1).c)"
        # first bucket with c >= rank; NaN counts satisfy nothing → idx 0,
        # clamped to 1 for safe access (the NaN guard below wins anyway)
        idx0 = (
            "CAST(coalesce(array_position("
            f"transform(__mono, b -> b.c >= {rank}), true), 0) AS INT)"
        )
        staged = buckets.selectExpr(
            "sig", "t", "bs", f"{mono} AS __mono"
        ).selectExpr(
            "sig", "t", "bs", "__mono",
            f"greatest({idx0}, 1) AS __idx",
            f"{idx0} AS __idx0",
        )
        b = "element_at(__mono, __idx)"
        prev_c = "(CASE WHEN __idx > 1 THEN element_at(__mono, __idx - 1).c ELSE 0.0D END)"
        prev_le = "(CASE WHEN __idx > 1 THEN element_at(__mono, __idx - 1).le ELSE 0.0D END)"
        total = "element_at(__mono, -1).c"
        # reference behavior: target bucket = +Inf ⇒ lower bound of it
        # (the last finite le); first bucket with upper bound ≤ 0 ⇒ that
        # bound directly; else linear interpolation from the previous one
        last_finite = "element_at(__mono, size(__mono) - 1).le"
        interpolated = (
            f"({prev_le} + ({b}.le - {prev_le}) * "
            f"(CASE WHEN {b}.c - {prev_c} > 0 "
            f"THEN ({rank} - {prev_c}) / ({b}.c - {prev_c}) ELSE 0.0D END))"
        )
        core = (
            f"(CASE WHEN {total} = 0.0D OR isnan({total}) OR __idx0 = 0 THEN {nan} "
            f"WHEN {b}.le = {pinf} THEN {last_finite} "
            f"WHEN __idx = 1 AND {b}.le <= 0 THEN {b}.le "
            f"WHEN __idx = 1 AND {b}.le > 0 THEN {b}.le * ({rank} / {b}.c) "
            f"ELSE {interpolated} END)"
        )

    value = (
        f"CASE WHEN {has_inf} AND size(bs) >= 2 THEN {core} ELSE {nan} END"
    )
    out = staged.selectExpr(
        "sig", "t", "t AS sample_t",
        f"CAST({value} AS DOUBLE) AS value", "true AS drop_name",
    )
    return VectorFrame(fact=out, dim=bdim)
