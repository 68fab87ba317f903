"""Vector/matrix selector evaluation — the engine's only table scans.

Instant-vector semantics (reference: promql/engine.go:2730-2765,
``vectorSelectorSingle``): at each step ``ts`` return, per matching series,
the most recent sample with ``t ∈ (ts - lookback, ts]``, skipping series
whose most recent point is a staleness marker.

Spark-first design: instead of a per-step loop, each sample computes the
half-open interval of steps it serves — ``[t, min(t+lookback, next_t))``
where ``next_t`` is the series' next sample (lead window) — and explodes
to those step indexes.  Output rows ≡ result rows, one shuffle by series,
no grid×series cross join, fully JVM-side (whole-stage codegen).

Matrix-selector semantics (engine.go:2916 ``matrixIterSlice``): all samples
in the left-open window ``(ts - range, ts]`` per series; staleness markers
are dropped.  Each sample serves steps in ``[t, t + range)`` — same explode
pattern without the ``next_t`` cutoff.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.values import VECTOR_COLS, VectorFrame
from prometheus_spark.parser.ast import Matcher, MatchType, VectorSelector


def matcher_predicate(
    matchers: list[Matcher], columns: "Optional[list[str]]" = None
) -> Column:
    """Label matchers → a Catalyst predicate.

    PromQL regexes are fully anchored (reference: model/labels/regexp.go);
    a missing label matches as the empty string.  ``__name__`` equality
    hits the extracted hot ``name`` column so Parquet row-group pruning
    can kick in at scale; likewise any write-time ``__hot_<label>``
    columns (storage.write_samples hot_labels) when ``columns`` — the
    scan's schema — is provided: those predicates reach PushedFilters
    instead of evaluating ``element_at`` post-scan.
    """
    pred = F.lit(True)
    for m in matchers:
        if m.name == "__name__" and m.type == MatchType.EQ:
            val = F.coalesce(F.col("name"), F.lit(""))
        elif (
            columns is not None
            and m.type in (MatchType.EQ, MatchType.NEQ)
            and f"__hot_{m.name}" in columns
        ):
            # null-aware forms (NULL = label absent = "") keep the
            # predicate pushdown-eligible — coalesce() would block it
            hot = F.col(f"__hot_{m.name}")
            if m.type == MatchType.EQ:
                cond = (
                    (hot.isNull() | (hot == "")) if m.value == ""
                    else hot == F.lit(m.value)
                )
            else:
                cond = (
                    (hot.isNotNull() & (hot != "")) if m.value == ""
                    else (hot.isNull() | (hot != F.lit(m.value)))
                )
            pred = pred & cond
            continue
        else:
            val = F.coalesce(F.element_at(F.col("labels"), F.lit(m.name)), F.lit(""))
        if m.type == MatchType.EQ:
            cond = val == F.lit(m.value)
        elif m.type == MatchType.NEQ:
            cond = val != F.lit(m.value)
        else:
            anchored = f"^(?:{m.value})$"
            try:
                re.compile(anchored)  # surface bad regexes at plan time
            except re.error:
                # Python rejects some constructs Java/RE2 accept (e.g.
                # mid-pattern (?i) flags) — defer those to rlike at runtime
                if "(?" not in m.value:
                    raise
            cond = val.rlike(anchored)
            if m.type == MatchType.NRE:
                cond = ~cond
        pred = pred & cond
    return pred


def _ceil_div(x: Column, step: int) -> Column:
    # floor/ceil via double division: |x| < 2^53 for epoch-ms, exact
    return -F.floor((-x) / F.lit(float(step)))


def _floor_div(x: Column, step: int) -> Column:
    return F.floor(x / F.lit(float(step)))


def _explode_steps_sql(ctx: EvalContext, lo_sql: str, hi_sql: str) -> str:
    """SQL fragment: ``explode(...) AS __kk`` — one step index per grid
    step in [lo, hi] ms, inclusive.  Composed as ONE string so the whole
    selector plan ships to the JVM in a single selectExpr round trip
    (the py4j-per-Column construction cost dominated interactive-query
    latency; same collapse as range_functions._extrapolated).

    floor/ceil via double division — exact for epoch-ms (< 2^53).  The
    CASE guard matters: sequence(lo, hi) with lo > hi would generate a
    DESCENDING sequence, not an empty one; explode(NULL) yields no rows.
    """
    start, step, n = ctx.start_ms, ctx.step_ms, ctx.num_steps
    # SQL floor() yields DECIMAL(20,0) (unlike F.floor's BIGINT) and
    # sequence() rejects decimals — cast both bounds explicitly
    k_lo = (
        f"CAST(greatest(-floor(-(({lo_sql}) - {start}) / {float(step)}), 0L)"
        " AS BIGINT)"
    )
    k_hi = (
        f"CAST(least(floor((({hi_sql}) - {start}) / {float(step)}), {n - 1}L)"
        " AS BIGINT)"
    )
    return (
        f"explode(CASE WHEN ({k_lo}) <= ({k_hi}) THEN "
        f"sequence({k_lo}, {k_hi}) END)"
    )


def _step_t_sql(ctx: EvalContext, k: str = "__kk") -> str:
    return f"CAST({ctx.start_ms} + {k} * {ctx.step_ms} AS BIGINT)"


def _explode_steps(df: DataFrame, ctx: EvalContext, lo_ms: Column, hi_ms: Column) -> DataFrame:
    """Attach step column ``t`` for every grid step in [lo_ms, hi_ms] (ms,
    inclusive).  ``k = (t - start)/step`` clamped to the grid."""
    k_lo = F.greatest(_ceil_div(lo_ms - F.lit(ctx.start_ms), ctx.step_ms), F.lit(0))
    k_hi = F.least(
        _floor_div(hi_ms - F.lit(ctx.start_ms), ctx.step_ms), F.lit(ctx.num_steps - 1)
    )
    return (
        df.withColumn("__k", F.when(k_lo <= k_hi, F.sequence(k_lo, k_hi)))
        .filter(F.col("__k").isNotNull())
        .withColumn("k", F.explode("__k"))
        .drop("__k")
        .withColumn("step_t", (F.lit(ctx.start_ms) + F.col("k") * F.lit(ctx.step_ms)).cast("long"))
        .drop("k")
    )


def selector_dim(ctx: EvalContext, matchers, in_window: DataFrame) -> DataFrame:
    """(sig, labels) for a selector's matched series.

    Preferred source: the engine's persisted series dimension, FILTERED
    by the matchers — no per-query aggregation.  Sigs outside the query
    window may remain; every consumer joins dims to facts by sig, so
    extras prune for free.  Fallback (contexts without an engine):
    derive from the matched in-window rows."""
    sd = ctx.series_dim
    if sd is not None:
        return sd.filter(matcher_predicate(matchers, sd.columns)).select(
            "sig", "labels"
        )
    return (
        in_window.select("sig", "labels")
        .groupBy("sig")
        .agg(F.first("labels").alias("labels"))
    )


def selector_est(ctx: EvalContext, node) -> "tuple[int, float] | None":
    """(series, avg_sig_len) upper-bound estimate for a selector, from
    the engine's per-metric-name stats.  A name matcher pins the
    estimate (the other matchers merely narrow it further — still an
    upper bound): equality by lookup, regex/negation by evaluating the
    anchored pattern over the (few) known names driver-side.  This only
    feeds the inline-vs-join COST choice (EvalContext.sig_inline_ok),
    so a Python-vs-Java regex corner mis-estimating is harmless.
    Selectors without a name matcher fall back to None (whole frame)."""
    stats = ctx.name_stats
    if not stats:
        return None
    name = getattr(node, "name", None)
    if name is not None:
        return stats.get(name, (0, 0.0))
    for m in getattr(node, "matchers", ()):
        if m.name != "__name__":
            continue
        if m.type == MatchType.EQ:
            return stats.get(m.value, (0, 0.0))
        if m.type in (MatchType.RE, MatchType.NRE):
            try:
                pat = re.compile(f"^(?:{m.value})$")
            except re.error:
                return None
            hit = m.type == MatchType.RE
            rows = [
                v for k, v in stats.items()
                if bool(pat.match(k)) == hit
            ]
        elif m.type == MatchType.NEQ:
            rows = [v for k, v in stats.items() if k != m.value]
        else:
            return None
        n = sum(c for c, _ in rows)
        if n == 0:
            return (0, 0.0)
        return (n, sum(c * al for c, al in rows) / n)
    return None


def eval_vector_selector(ctx: EvalContext, node: VectorSelector) -> VectorFrame:
    vf = _eval_vector_selector(ctx, node)
    est = selector_est(ctx, node)
    if est is not None:
        vf.est_series, vf.est_sig_bytes = est
    return vf


def _eval_vector_selector(ctx: EvalContext, node: VectorSelector) -> VectorFrame:
    from prometheus_spark.parser.ast import resolve_duration_ms

    base = ctx.samples.filter(
        matcher_predicate(node.matchers, ctx.samples.columns)
    )
    qc = {
        "step": 0.0 if ctx.is_instant else ctx.step_ms / 1000.0,
        "range": (ctx.end_ms - ctx.start_ms) / 1000.0,
        "start": ctx.start_ms / 1000.0,
        "end": ctx.end_ms / 1000.0,
    }
    offset = resolve_duration_ms(node.offset_ms, qc)

    has_hist = "hist" in base.columns
    hist_cols = ["hist"] if has_hist else []
    if "st" in base.columns:
        hist_cols = ["st"] + hist_cols  # ride along for start_timestamp()

    if getattr(node, "anchored", False):
        raise PromQLEvalError_("anchored modifier cannot be used on an instant selector")
    if getattr(node, "smoothed", False):
        return _smoothed_instant(ctx, base, offset, at=node.at)

    if node.at is not None:
        # Pinned evaluation time: value identical at every step —
        # step-invariant broadcast (reference: engine.go:4646, 2564).
        # Split contract: labels stay on a per-sig dim; the max_by pick,
        # broadcast-grid crossJoin and everything downstream move only
        # the narrow fact columns.
        ref = ctx.resolve_at(node.at) - offset
        in_window = base.filter(
            (F.col("t") > ref - ctx.lookback_ms) & (F.col("t") <= ref)
        )
        dim = selector_dim(ctx, node.matchers, in_window)
        picked = (
            in_window.groupBy("sig")
            .agg(
                F.max_by(
                    F.struct("t", "value", "stale", *hist_cols), "t"
                ).alias("s"),
            )
            .select("sig", "s.*")
            .filter(~F.col("stale"))
            .select("sig", F.col("t").alias("sample_t"), "value", *hist_cols)
        )
        fact = picked.crossJoin(F.broadcast(ctx.grid)).select(
            "sig", "t", "sample_t", "value",
            F.lit(False).alias("drop_name"), *hist_cols,
        )
        return VectorFrame(fact=fact, dim=dim)

    # Sliding path: sample serves steps where (step_t - offset) ∈
    # [t, min(t + lookback, next_t)).  Stale markers terminate the serve
    # interval of the previous sample and emit nothing themselves.
    # Composed as string-SQL selectExprs (2 round trips, not ~15).
    # Split contract: the lead() window (shuffle+sort on sig) and the
    # step explode (rows × steps-served) carry no labels map — the dim
    # branch reduces the same matched rows to one labels row per series.
    lo, hi = ctx.start_ms - offset - ctx.lookback_ms, ctx.end_ms - offset
    in_window = base.filter(f"t > {lo} AND t <= {hi}")
    dim = selector_dim(ctx, node.matchers, in_window)
    valid_to = (
        f"least(t + {ctx.lookback_ms}, "
        f"coalesce(lead(t) OVER (PARTITION BY sig ORDER BY t), {2**62}L))"
    )
    exploded = (
        in_window.drop("labels")
        .selectExpr("*", f"{valid_to} AS __valid_to")
        .filter("NOT stale")
        .selectExpr(
            "sig",
            "t AS sample_t",
            "value",
            *hist_cols,
            _explode_steps_sql(ctx, f"t + {offset}", f"__valid_to - 1 + {offset}")
            + " AS __kk",
        )
    )
    fact = exploded.selectExpr(
        "sig",
        _step_t_sql(ctx) + " AS t",
        "sample_t",
        "value",
        "false AS drop_name",
        *hist_cols,
    )
    return VectorFrame(fact=fact, dim=dim)


def PromQLEvalError_(msg):
    from prometheus_spark.engine.aggregations import PromQLEvalError

    return PromQLEvalError(msg)


def _smoothed_instant(
    ctx: EvalContext, base: DataFrame, offset: int, at=None
) -> VectorFrame:
    """Instant smoothed selector (engine.go ``smoothSeries``): at each step
    the value is the sample at the (offset-adjusted) timestamp if one
    exists; otherwise the linear interpolation between the surrounding
    samples when both are within the lookback window; with only a
    preceding sample, its value carries forward; with only a following
    sample, nothing is emitted.  Metric name is kept.

    Series carrying histogram samples take the Python interpolation path
    (hist_arith.smoothed_instant_hist)."""
    lb = ctx.lookback_ms
    from prometheus_spark.engine.range_functions import split_kinds

    base, hists, mixed = split_kinds(ctx, base.filter(~F.col("stale")), stored=True)
    hist_part = None
    if hists is not None:
        # series carrying histogram samples take the Python interpolation
        # path (whole series — mixed windows are judged per step there)
        from prometheus_spark.engine import hist_arith

        hist_part = hist_arith.smoothed_instant_hist(
            ctx, hists.unionByName(mixed), offset, at
        )
    base = base.filter(F.col("value").isNotNull())
    w = Window.partitionBy("sig").orderBy("t")
    adj = base.withColumn("next_t", F.lead("t").over(w)).withColumn(
        "next_v", F.lead("value").over(w)
    )
    if at is not None:
        # step-invariant: one smoothed value at the pinned time, broadcast
        ref = ctx.resolve_at(at) - offset
        cand = adj.filter(
            (F.col("t") <= ref)
            & (F.col("t") > ref - lb)
            & (F.coalesce(F.col("next_t"), F.lit(2**62)) > ref)
        )
        data_ts = F.lit(ref)
        next_ok = F.col("next_t").isNotNull() & (F.col("next_t") <= data_ts + F.lit(lb))
        interp = F.col("value") + (F.col("next_v") - F.col("value")) * (
            data_ts - F.col("t")
        ) / (F.col("next_t") - F.col("t"))
        value = (
            F.when(data_ts == F.col("t"), F.col("value"))
            .when(next_ok, interp)
            .otherwise(F.col("value"))
        )
        picked = cand.select(
            "sig", "labels", F.col("t").alias("sample_t"),
            value.cast("double").alias("value"),
        )
        out = picked.crossJoin(F.broadcast(ctx.grid)).select(
            "sig", "labels", "t", "sample_t", "value",
            F.lit(False).alias("drop_name"),
        )
        return VectorFrame(_smoothed_union(out, hist_part))
    lo = ctx.start_ms - offset - lb
    hi = ctx.end_ms - offset + lb
    adj = adj.filter((F.col("t") > lo) & (F.col("t") <= hi))
    # each sample serves steps with dataTS ∈ [t, min(next_t−1, t+lb−1)]
    upper = F.least(
        F.coalesce(F.col("next_t"), F.lit(2**62)) - 1, F.col("t") + F.lit(lb - 1)
    )
    exploded = _explode_steps(
        adj, ctx, F.col("t") + F.lit(offset), upper + F.lit(offset)
    )
    data_ts = F.col("step_t") - F.lit(offset)
    next_ok = F.col("next_t").isNotNull() & (F.col("next_t") <= data_ts + F.lit(lb))
    interp = F.col("value") + (F.col("next_v") - F.col("value")) * (
        data_ts - F.col("t")
    ) / (F.col("next_t") - F.col("t"))
    value = (
        F.when(data_ts == F.col("t"), F.col("value"))
        .when(next_ok, interp)
        .otherwise(F.col("value"))
    )
    out = exploded.select(
        "sig",
        "labels",
        F.col("step_t").alias("out_t"),
        F.col("t").alias("sample_t"),
        value.cast("double").alias("value"),
        F.lit(False).alias("drop_name"),
    ).withColumnsRenamed({"out_t": "t"})
    return VectorFrame(_smoothed_union(out, hist_part))


def _smoothed_union(float_out: DataFrame, hist_part) -> DataFrame:
    if hist_part is None:
        return float_out
    from prometheus_spark.model.schema import HISTOGRAM_TYPE

    return float_out.withColumn("hist", F.lit(None).cast(HISTOGRAM_TYPE)).unionByName(
        hist_part
    )


def windowed_samples(
    ctx: EvalContext,
    node_or_df,
    range_ms: int,
    offset_ms: int = 0,
    at=None,
    dim: DataFrame = None,
) -> tuple:
    """Matrix-selector expansion → ``(windows, dim)``: windows =
    ``(sig, t=step_t, sample_t, value, drop_name, st[, hist], wend)``
    with one row per sample per window it falls in — NO labels (split
    frame contract: the explode multiplies rows by windows-served, so
    the labels map must not ride it); dim = ``(sig, labels)``, one row
    per in-range series.

    Accepts a VectorSelector (scans storage) or a prepared sample-like
    DataFrame (subquery results) with columns (sig[, labels], t, value);
    pass ``dim`` for label-free prepared frames (derived here otherwise).
    """
    matchers = None
    if isinstance(node_or_df, VectorSelector):
        matchers = node_or_df.matchers
        base = ctx.samples.filter(
            matcher_predicate(matchers, ctx.samples.columns)
        ).filter(~F.col("stale"))
    else:
        base = node_or_df
    hist_cols = ["hist"] if "hist" in base.columns else []
    dn = "drop_name" if "drop_name" in base.columns else "false AS drop_name"
    st = "st" if "st" in base.columns else "CAST(NULL AS BIGINT) AS st"

    if at is not None:
        ref = ctx.resolve_at(at) - offset_ms
        in_range = base.filter(
            (F.col("t") > ref - range_ms) & (F.col("t") <= ref)
        )
    else:
        lo, hi = ctx.start_ms - offset_ms - range_ms, ctx.end_ms - offset_ms
        in_range = base.filter(f"t > {lo} AND t <= {hi}")
    if dim is None:
        if matchers is not None:
            dim = selector_dim(ctx, matchers, in_range)
        else:
            dim = (
                in_range.select("sig", "labels")
                .groupBy("sig")
                .agg(F.first("labels").alias("labels"))
            )
    in_range = in_range.selectExpr("sig", "t", "value", dn, st, *hist_cols)

    # ``wend`` = the window's (offset-adjusted) right edge — rate
    # extrapolation measures sample distance to it (functions.go:472,
    # rangeEnd = ts - offset).
    if at is not None:
        w = in_range.crossJoin(
            F.broadcast(ctx.grid.select(F.col("t").alias("step_t")))
        ).select(
            "sig", F.col("step_t").alias("out_t"), F.col("t").alias("sample_t"),
            "value", "drop_name", "st", *hist_cols, F.lit(ref).alias("wend"),
        ).withColumnsRenamed({"out_t": "t"})
        return w, dim

    return _sliding_windows(ctx, in_range, range_ms, offset_ms, hist_cols), dim


def _sliding_windows(ctx, in_range, range_ms, offset_ms, hist_cols):
    exploded = in_range.selectExpr(
        "sig",
        "t AS sample_t",
        "value",
        "drop_name",
        "st",
        *hist_cols,
        _explode_steps_sql(
            ctx, f"t + {offset_ms}", f"t + {range_ms - 1 + offset_ms}"
        )
        + " AS __kk",
    )
    return exploded.selectExpr(
        "sig",
        _step_t_sql(ctx) + " AS t",
        "sample_t",
        "value",
        "drop_name",
        "st",
        *hist_cols,
        _step_t_sql(ctx) + f" - {offset_ms} AS wend",
    )


def extended_windowed_samples(
    ctx: EvalContext,
    node: VectorSelector,
    range_ms: int,
    offset_ms: int = 0,
    at=None,
    smoothed: bool = False,
    base: DataFrame = None,
) -> tuple:
    """Anchored/smoothed matrix windows → ``(windows, dim)`` — split
    frame contract: windows carry no labels; dim = (sig, labels) for the
    time-scoped matched series (reference: engine.go extendFloats
    + functions.go:309 ``extendedRate`` inputs).

    The window is materialized as: a left-boundary row at ``sample_t =
    rangeStart`` carrying the last pre-window sample's value (smoothed:
    linearly interpolated to the edge, non-counter — extendFloats passes
    isCounter=false), the interior samples in ``(rangeStart, rangeEnd]``,
    and for smoothed a right-boundary row at ``rangeEnd`` interpolated
    from the first post-window sample.  Windows with no sample after
    rangeStart (or, smoothed, none before rangeEnd) produce nothing —
    enforced by per-window kind flags.

    Rows carry ``orig_t`` (the source sample's timestamp) so validity can
    be checked; ``sample_t`` is the materialized position.
    """
    from prometheus_spark.model.schema import HISTOGRAM_TYPE

    if base is None:
        base = ctx.samples.filter(
            matcher_predicate(node.matchers, ctx.samples.columns)
        ).filter("NOT stale")
    has_hist = "hist" in base.columns
    hcols = ["hist"] if has_hist else []
    lb = ctx.lookback_ms
    htype = HISTOGRAM_TYPE.simpleString()

    over = "OVER (PARTITION BY sig ORDER BY t)"
    adj_exprs = [
        f"lead(t) {over} AS next_t",
        f"lead(value) {over} AS next_v",
        f"lag(t) {over} AS prev_t",
        f"lag(value) {over} AS prev_v",
    ]
    if has_hist:
        adj_exprs += [
            f"lead(hist) {over} AS next_h",
            f"lag(hist) {over} AS prev_h",
        ]
    with_adj = base.selectExpr(
        "sig", "t", "value", *hcols, *adj_exprs
    )

    if at is not None:
        ref = ctx.resolve_at(at) - offset_ms
        rstart_sql, rend_sql = f"{ref - range_ms}L", f"{ref}L"
        wend_sql = f"{ref}L"
    else:
        rstart_sql = f"CAST(step_t - {offset_ms + range_ms} AS BIGINT)"
        rend_sql = f"CAST(step_t - {offset_ms} AS BIGINT)"
        wend_sql = f"CAST(step_t - {offset_ms} AS BIGINT)"

    def shape(df, sample_t_sql: str, role: str, with_adj_cols: bool = False):
        # boundary rows keep the raw value plus their neighbours — the
        # consumer interpolates (counter-awareness differs by function:
        # extendedRate passes isCounter, extendFloats does not)
        if with_adj_cols:
            adj = ["next_t AS __nt", "next_v AS __nv",
                   "prev_t AS __pt", "prev_v AS __pv"]
            if has_hist:
                adj += ["next_h AS __nh", "prev_h AS __ph"]
        else:
            adj = [
                "CAST(NULL AS BIGINT) AS __nt",
                "CAST(NULL AS DOUBLE) AS __nv",
                "CAST(NULL AS BIGINT) AS __pt",
                "CAST(NULL AS DOUBLE) AS __pv",
            ]
            if has_hist:
                adj += [
                    f"CAST(NULL AS {htype}) AS __nh",
                    f"CAST(NULL AS {htype}) AS __ph",
                ]
        return df.selectExpr(
            "sig",
            "step_t AS t",
            f"CAST({sample_t_sql} AS BIGINT) AS sample_t",
            "t AS orig_t",
            "CAST(value AS DOUBLE) AS value",
            *hcols,
            f"'{role}' AS role",
            wend_sql + " AS wend",
            *adj,
        )

    if at is not None:
        rstart, rend = ref - range_ms, ref
        dim = selector_dim(
            ctx, node.matchers,
            base.filter(f"t > {rstart - lb} AND t <= {rend + lb}"),
        )
        grid = ctx.grid.selectExpr("t AS step_t")
        pinned = with_adj.crossJoin(F.broadcast(grid))
        # pinned windows: classify each sample against the fixed range
        interior = pinned.filter(f"t > {rstart} AND t <= {rend}")
        lcand = pinned.filter(
            f"t <= {rstart} AND t > {rstart - lb} "
            f"AND coalesce(next_t, {2**62}L) > {rstart}"
        )
        rcand = pinned.filter(
            f"t > {rend} AND t < {rend + lb} "
            f"AND coalesce(prev_t, {-(2**62)}L) < {rend}"
        )
    else:
        lo = ctx.start_ms - offset_ms - range_ms - lb
        hi = ctx.end_ms - offset_ms + (lb if smoothed else 0)
        dim = selector_dim(
            ctx, node.matchers, base.filter(f"t > {lo} AND t <= {hi}")
        )
        scoped = with_adj.filter(f"t > {lo} AND t <= {hi}")

        def explode(df, lo_sql: str, hi_sql: str):
            return df.selectExpr(
                "*", _explode_steps_sql(ctx, lo_sql, hi_sql) + " AS __kk"
            ).selectExpr("*", _step_t_sql(ctx) + " AS step_t")

        # interior: rangeStart < t ≤ rangeEnd ⇔ step ∈ [t+off, t+off+range)
        interior = explode(
            scoped, f"t + {offset_ms}", f"t + {range_ms - 1 + offset_ms}"
        )
        # left boundary: latest sample with t ≤ rangeStart, within lookback
        # ⇔ rangeStart ∈ [t, min(next_t−1, t+lb−1)] ⇔ step ∈ [t+off+range, …]
        lcand = explode(
            scoped,
            f"t + {offset_ms + range_ms}",
            f"least(coalesce(next_t, {2**62}L) - 1, t + {lb - 1})"
            f" + {offset_ms + range_ms}",
        )
        # right boundary (smoothed): earliest sample with t > rangeEnd,
        # within lookback ⇔ rangeEnd ∈ [max(prev_t, t−lb)+1, t−1]
        rcand = explode(
            scoped,
            f"greatest(coalesce(prev_t, {-(2**62)}L), t - {lb})"
            f" + {1 + offset_ms}",
            f"t - 1 + {offset_ms}",
        )

    parts = [shape(interior, "t", "I")]
    parts.append(shape(lcand, rstart_sql, "L", with_adj_cols=True))
    if smoothed:
        parts.append(shape(rcand, rend_sql, "R", with_adj_cols=True))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)

    # validity: needs a sample after rangeStart (I or R) and, smoothed,
    # one at/before rangeEnd (I or L); wend = rangeEnd, so rangeStart =
    # wend − range works for both the sliding and the @-pinned branch
    flagged = out.selectExpr(
        "*",
        f"max(CAST(orig_t > wend - {range_ms} AS INT)) "
        "OVER (PARTITION BY sig, t) AS __after",
        "max(CAST(orig_t <= wend AS INT)) "
        "OVER (PARTITION BY sig, t) AS __before",
    )
    valid = flagged.filter("__after = 1 AND __before = 1")
    w = valid.select(
        "sig", "t", "sample_t", "orig_t", "value", *hcols, "wend", "role",
        "__nt", "__nv", "__pt", "__pv",
        *(["__nh", "__ph"] if has_hist else []),
    )
    return w, dim
