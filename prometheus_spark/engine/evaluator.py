"""Bottom-up AST → DataFrame planner/evaluator.

The reference evaluates with a tree-walking interpreter batched across
steps (promql/engine.go:2051, 1410).  Here every node *declares* its full
multi-step result as a DataFrame expression keyed by ``(sig, t)`` and
Catalyst compiles the whole query — step-invariant subtrees
(engine.go:4538) fall out naturally since pinned selectors broadcast
across the step grid.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_spark.engine import binop as B
from prometheus_spark.engine import functions as FN
from prometheus_spark.engine import range_functions as RF
from prometheus_spark.engine.aggregations import PromQLEvalError, eval_aggregation
from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.selectors import eval_vector_selector, windowed_samples
from prometheus_spark.engine.values import (
    ConstScalar,
    ScalarFrame,
    StringValue,
    VectorFrame,
    scalar_frame_from_const,
)
from prometheus_spark.parser.ast import (
    AT_END,
    AT_START,
    resolve_duration_ms,
    AggregateExpr,
    BinaryExpr,
    Call,
    Expr,
    MatchType,
    MatrixSelector,
    NumberLiteral,
    ParenExpr,
    StringLiteral,
    SubqueryExpr,
    UnaryExpr,
    ValueType,
    VectorSelector,
)


class Evaluator:
    def __init__(self, ctx: EvalContext):
        self.ctx = ctx

    # ------------------------------------------------------------------
    def eval(self, node: Expr):
        # per-expression eval span (reference promql/engine.go:2065
        # "promqlInnerEval eval <type>"); zero-cost while tracing is off
        from prometheus_spark import tracing

        if tracing._ACTIVE:
            with tracing.span(
                f"promqlInnerEval eval {type(node).__name__}"
            ):
                return self._eval_node(node)
        return self._eval_node(node)

    def _eval_node(self, node: Expr):
        ctx = self.ctx
        if isinstance(node, NumberLiteral):
            return ConstScalar(node.value)
        if isinstance(node, StringLiteral):
            return StringValue(node.value)
        if isinstance(node, ParenExpr):
            return self.eval(node.expr)
        if isinstance(node, VectorSelector):
            return eval_vector_selector(ctx, node)
        if isinstance(node, UnaryExpr):
            return self._unary(node)
        if isinstance(node, AggregateExpr):
            param = self.eval(node.param) if node.param is not None else None
            vf = self._vector(node.expr)
            return eval_aggregation(ctx, node, vf, param)
        if isinstance(node, BinaryExpr):
            return self._binary(node)
        if isinstance(node, Call):
            return self._call(node)
        if isinstance(node, (MatrixSelector, SubqueryExpr)):
            raise PromQLEvalError(
                "range vector used where an instant vector is expected"
            )
        raise PromQLEvalError(f"unsupported node {type(node).__name__}")

    # ------------------------------------------------------------------
    def _vector(self, node: Expr) -> VectorFrame:
        v = self.eval(node)
        if isinstance(v, VectorFrame):
            return v
        raise PromQLEvalError(f"expected instant vector, got {type(v).__name__}")

    def _scalar(self, node: Expr):
        v = self.eval(node)
        if isinstance(v, (ConstScalar, ScalarFrame)):
            return v
        raise PromQLEvalError(f"expected scalar, got {type(v).__name__}")

    def _unary(self, node: UnaryExpr):
        v = self.eval(node.expr)
        if node.op == "+":
            return v
        if isinstance(v, ConstScalar):
            return ConstScalar(-v.value)
        if isinstance(v, ScalarFrame):
            return ScalarFrame(v.df.select("t", (-F.col("value")).alias("value")))
        if isinstance(v, VectorFrame):
            hist_cols = []
            if "hist" in v.fact.columns:
                # −histogram ≡ histogram × −1 (vectorElemBinop MUL path)
                from prometheus_spark.engine.binop import scale_hist_expr

                hist_cols = [
                    F.when(
                        F.col("hist").isNotNull(),
                        scale_hist_expr(F.col("hist"), F.lit(-1.0), is_div=False),
                    ).alias("hist")
                ]
            return VectorFrame(
                fact=v.fact.select(
                    "sig",
                    "t",
                    "sample_t",
                    (-F.col("value")).alias("value"),
                    F.lit(True).alias("drop_name"),
                    *hist_cols,
                ),
                dim=v.dim,
            )
        raise PromQLEvalError("unary - on non-numeric value")

    def _guarded(self, vf: VectorFrame) -> VectorFrame:
        """Under delayed name removal the duplicate-labelset check runs
        once at result finalization (engine.py) — per-op checks would
        false-positive on still-distinct names and cost a shuffle each.
        Kept as a seam for ops that must error eagerly."""
        return vf

    # ------------------------------------------------------------------
    def _binary(self, node: BinaryExpr):
        lt, rt = node.lhs.value_type(), node.rhs.value_type()
        l, r = self.eval(node.lhs), self.eval(node.rhs)
        if isinstance(l, (ConstScalar, ScalarFrame)) and isinstance(r, (ConstScalar, ScalarFrame)):
            return self._scalar_scalar(node, l, r)
        if isinstance(l, VectorFrame) and isinstance(r, (ConstScalar, ScalarFrame)):
            if node.op in ("and", "or", "unless"):
                raise PromQLEvalError("set operators require two vectors")
            return B.vector_scalar(self.ctx, node, l, r, vector_on_left=True)
        if isinstance(r, VectorFrame) and isinstance(l, (ConstScalar, ScalarFrame)):
            if node.op in ("and", "or", "unless"):
                raise PromQLEvalError("set operators require two vectors")
            return B.vector_scalar(self.ctx, node, r, l, vector_on_left=False)
        if isinstance(l, VectorFrame) and isinstance(r, VectorFrame):
            return B.vector_vector(self.ctx, node, l, r)
        raise PromQLEvalError(f"invalid binary operands {type(l)} {type(r)}")

    def _scalar_scalar(self, node: BinaryExpr, l, r):
        if node.op in ("and", "or", "unless"):
            raise PromQLEvalError("set operators not allowed between scalars")
        if isinstance(l, ConstScalar) and isinstance(r, ConstScalar):
            return ConstScalar(B.scalar_scalar(node.op, l.value, r.value))
        lf = l if isinstance(l, ScalarFrame) else scalar_frame_from_const(self.ctx, l.value)
        rf = r if isinstance(r, ScalarFrame) else scalar_frame_from_const(self.ctx, r.value)
        rv = rf.df.withColumnRenamed("value", "__rv")
        joined = lf.df.join(F.broadcast(rv), "t")
        lc, rc = F.col("value"), F.col("__rv")
        if node.op in B.COMPARISON_OPS:
            out = F.when(B.compare_expr(node.op, lc, rc), 1.0).otherwise(0.0)
        else:
            out = B.arith_expr(node.op, lc, rc)
        return ScalarFrame(joined.select("t", out.cast("double").alias("value")))

    # ------------------------------------------------------------------
    def _matrix_arg(self, node: Expr):
        """Evaluate a range-vector argument → (windowed frame, labels
        dim, range_ms, extended-mode: None | 'anchored' | 'smoothed').
        Split frame contract: the windowed frame carries no labels."""
        ctx = self.ctx
        while isinstance(node, ParenExpr):
            node = node.expr
        if isinstance(node, MatrixSelector):
            sel = node.selector
            rng = resolve_duration_ms(node.range_ms, self._qctx())
            off = resolve_duration_ms(sel.offset_ms, self._qctx())
            if node.anchored or node.smoothed:
                from prometheus_spark.engine.selectors import extended_windowed_samples

                w, dim = extended_windowed_samples(
                    ctx, sel, rng, off, sel.at, smoothed=node.smoothed
                )
                return w, dim, rng, "smoothed" if node.smoothed else "anchored"
            w, dim = windowed_samples(ctx, sel, rng, off, sel.at)
            return w, dim, rng, None
        if isinstance(node, SubqueryExpr):
            w, dim, rng = self._subquery(node)
            return w, dim, rng, None
        raise PromQLEvalError("expected range vector argument")

    def _qctx(self) -> dict:
        """Query-context values for duration expressions (seconds)."""
        ctx = self.ctx
        start = ctx.at_start_ms if ctx.at_start_ms is not None else ctx.start_ms
        end = ctx.at_end_ms if ctx.at_end_ms is not None else ctx.end_ms
        return {
            "step": 0.0 if ctx.is_instant else ctx.step_ms / 1000.0,
            "range": (end - start) / 1000.0,
            "start": start / 1000.0,
            "end": end / 1000.0,
        }

    def _subquery(self, node: SubqueryExpr) -> tuple:
        """Subquery (engine.go:1932): evaluate inner expr over an
        epoch-aligned denser grid, then window the result."""
        ctx = self.ctx
        qc = self._qctx()
        # default resolution = 1m (the reference's default eval interval /
        # noStepSubqueryIntervalFn), NOT the parent step
        step = resolve_duration_ms(node.step_ms, qc) if node.step_ms else 60_000
        offset = resolve_duration_ms(node.offset_ms, qc)
        if node.at is not None:
            ref = ctx.resolve_at(node.at) - offset
            inner_end, outer_start = ref, ref
        else:
            inner_end = ctx.end_ms - offset
            outer_start = ctx.start_ms - offset
        rng = resolve_duration_ms(node.range_ms, qc)
        # inner grid epoch-aligned to step, left-open window bump
        # (engine.go runSubquery: subqStart <= start-offset-range → +step)
        inner_start = (outer_start - rng) // step * step
        if inner_start <= outer_start - rng:
            inner_start += step
        if inner_start > inner_end:
            # no inner evaluation points fall in any window → empty
            empty = ctx.samples.filter(F.lit(False)).select(
                "sig", "labels", "t", "value"
            )
            w, dim = windowed_samples(ctx, empty, rng, offset, node.at)
            return w, dim, rng
        sub_ctx = ctx.with_grid(inner_start, inner_end, step)
        inner = Evaluator(sub_ctx).eval(node.expr)
        if isinstance(inner, ConstScalar):
            inner = scalar_frame_from_const(sub_ctx, inner.value)
        if isinstance(inner, ScalarFrame):
            raise PromQLEvalError("subquery on scalar expressions not supported")
        hist_cols = []
        if "hist" in inner.df.columns:
            # Normalize explicit counter-reset hints to "unknown": a
            # high-res subquery returns the reset sample multiple times
            # (over-detection) and a low-res one may skip it — the engine
            # falls back to value-based detection (engine.go:2024).
            hint = F.col("hist")["counter_reset_hint"]
            norm = F.when(
                F.col("hist").isNotNull() & hint.isin(1, 2),
                F.col("hist").withField("counter_reset_hint", F.lit(0).cast("tinyint")),
            ).otherwise(F.col("hist"))
            inner = VectorFrame(
                fact=inner.fact.withColumn("hist", norm), dim=inner.dim
            )
            hist_cols = ["hist"]
        samples_like = inner.fact.select(
            "sig", "t", "value", "drop_name", *hist_cols
        )
        w, dim = windowed_samples(
            ctx, samples_like, rng, offset, node.at, dim=inner.dim
        )
        return w, dim, rng

    # ------------------------------------------------------------------
    def _call(self, node: Call):
        ctx = self.ctx
        fn = node.func

        # plan-time constants (engine.go:4469 foldQueryContextFunctions)
        if fn == "time":
            if ctx.is_instant:
                return ConstScalar(ctx.start_ms / 1000.0)
            return ScalarFrame(ctx.grid.select("t", (F.col("t") / 1000.0).alias("value")))
        if fn == "pi":
            return ConstScalar(math.pi)
        if fn == "start":
            return ConstScalar(ctx.start_ms / 1000.0)
        if fn == "end":
            return ConstScalar(ctx.end_ms / 1000.0)
        if fn == "step":
            # instant queries report step 0 (functions.test:2101)
            return ConstScalar(0.0 if ctx.is_instant else ctx.step_ms / 1000.0)
        if fn == "range":
            return ConstScalar((ctx.end_ms - ctx.start_ms) / 1000.0)
        if fn in ("min_of", "max_of"):
            a, b = self._scalar(node.args[0]), self._scalar(node.args[1])
            if isinstance(a, ConstScalar) and isinstance(b, ConstScalar):
                # Go math.Min/Max: NaN propagates (functions.go:1786-1793)
                if math.isnan(a.value) or math.isnan(b.value):
                    return ConstScalar(float("nan"))
                return ConstScalar(
                    min(a.value, b.value) if fn == "min_of" else max(a.value, b.value)
                )
            raise PromQLEvalError(f"{fn}: per-step scalars not supported yet")

        if fn in RF.RANGE_FUNCTIONS:
            def _att(vf, sel):
                # range functions preserve the series set — carry the
                # selector's cardinality estimate (sig_inline_ok input)
                if isinstance(vf, VectorFrame) and sel is not None:
                    from prometheus_spark.engine.selectors import selector_est

                    est = selector_est(ctx, sel)
                    if est is not None and vf.est_series is None:
                        vf.est_series, vf.est_sig_bytes = est
                return vf

            param = self.eval(node.args[0]) if fn == "quantile_over_time" else None
            if fn == "predict_linear":
                param = self._scalar(node.args[1])
            if fn == "double_exponential_smoothing":
                m_node = node.args[0]
                while isinstance(m_node, ParenExpr):
                    m_node = m_node.expr
                # as-of fast path: the DES recurrence itself is
                # irreducible, but the range/step window explode is not
                # (range_functions.eval_des_asof)
                if (
                    isinstance(m_node, MatrixSelector)
                    and not m_node.anchored and not m_node.smoothed
                    and not m_node.selector.anchored
                    and not m_node.selector.smoothed
                    and m_node.selector.at is None
                ):
                    qc = self._qctx()
                    rng = resolve_duration_ms(m_node.range_ms, qc)
                    off = resolve_duration_ms(m_node.selector.offset_ms, qc)
                    thr = RF.prefix_threshold()
                    # instant queries route here too: their step grid is
                    # 1 ms wide, so range//step always clears the
                    # threshold — and the explode path's JVM array fold
                    # (collect_list + F.aggregate) measures ~4 s on a
                    # [1d] window where the as-of scalar loop is ~ms
                    if thr == 0 or rng // ctx.step_ms >= thr:
                        return _att(RF.eval_des_asof(
                            ctx, m_node.selector, rng, off,
                            self._scalar(node.args[1]),
                            self._scalar(node.args[2]),
                        ), m_node.selector)
                w, dim, rng, mode = self._matrix_arg(node.args[0])
                if mode is not None:
                    raise PromQLEvalError(f"{mode} modifier cannot be used with {fn}")
                return _att(RF.eval_range_function(
                    ctx, fn, w, rng, self._scalar(node.args[1]), self._scalar(node.args[2]),
                    dim=dim, stored=isinstance(m_node, MatrixSelector),
                ), m_node.selector if isinstance(m_node, MatrixSelector) else None)
            m_idx = 1 if fn == "quantile_over_time" else 0
            m_node = node.args[m_idx]
            while isinstance(m_node, ParenExpr):
                m_node = m_node.expr
            # prefix/as-of fast path: plain selector, wide range/step
            # ratio → O(samples + series×steps) instead of the
            # range/step-factor window explode (range_functions.py
            # eval_range_function_prefix)
            if (
                fn in RF.PREFIX_RANGE_FUNCS
                and isinstance(m_node, MatrixSelector)
                and not m_node.anchored and not m_node.smoothed
                and not m_node.selector.anchored
                and not m_node.selector.smoothed
                and m_node.selector.at is None
            ):
                qc = self._qctx()
                rng = resolve_duration_ms(m_node.range_ms, qc)
                off = resolve_duration_ms(m_node.selector.offset_ms, qc)
                thr = RF.prefix_threshold()
                # instant queries have explode factor 1 — fast path is
                # pure overhead there (thr == 0 forces it anyway, for
                # the corpus parity sweep)
                if thr == 0 or (
                    not ctx.is_instant and rng // ctx.step_ms >= thr
                ):
                    return _att(RF.eval_range_function_prefix(
                        ctx, fn, m_node.selector, rng, off
                    ), m_node.selector)
                # explode-favoring ratio, but histogram windows are
                # Python-cost dominated: pure-hist series still win on
                # the as-of path (range_functions.eval_rate_hybrid)
                if (
                    fn in ("rate", "increase", "delta")
                    and not ctx.is_instant
                    and RF.hist_possible(ctx, ctx.samples)
                    and rng // ctx.step_ms >= RF.hist_asof_threshold()
                ):
                    return _att(RF.eval_rate_hybrid(
                        ctx, fn, m_node.selector, rng, off
                    ), m_node.selector)
            # anchored/smoothed rate family on a plain selector: per-series
            # Arrow fold instead of the three-branch explode+union plan
            # (range_functions.eval_extended_rate_fold); @-pinned windows
            # keep the materialized path (single broadcast grid, cheap)
            if (
                fn in ("rate", "increase", "delta")
                and isinstance(m_node, MatrixSelector)
                and (m_node.anchored or m_node.smoothed)
                and m_node.selector.at is None
            ):
                import os as _os

                if _os.environ.get("PROMSPARK_EXT_IMPL", "fold") == "fold":
                    qc = self._qctx()
                    return _att(RF.eval_extended_rate_fold(
                        ctx,
                        fn,
                        m_node.selector,
                        resolve_duration_ms(m_node.range_ms, qc),
                        resolve_duration_ms(m_node.selector.offset_ms, qc),
                        smoothed=m_node.smoothed,
                    ), m_node.selector)
            w, dim, rng, mode = self._matrix_arg(node.args[m_idx])
            return _att(
                RF.eval_range_function(
                    ctx, fn, w, rng, param, mode=mode, dim=dim,
                    stored=isinstance(m_node, MatrixSelector),
                ),
                m_node.selector if isinstance(m_node, MatrixSelector) else None,
            )

        if fn == "absent_over_time":
            m_node = node.args[0]
            while isinstance(m_node, ParenExpr):
                m_node = m_node.expr
            # absent_over_time(x[r]) ≡ absent(present_over_time(x[r]));
            # at wide range/step ratio, route presence through the
            # prefix fast path instead of the window explode
            if (
                isinstance(m_node, MatrixSelector)
                and not m_node.anchored and not m_node.smoothed
                and not m_node.selector.anchored
                and not m_node.selector.smoothed
                and m_node.selector.at is None
            ):
                qc = self._qctx()
                rng = resolve_duration_ms(m_node.range_ms, qc)
                off = resolve_duration_ms(m_node.selector.offset_ms, qc)
                thr = RF.prefix_threshold()
                if thr == 0 or (
                    not ctx.is_instant and rng // ctx.step_ms >= thr
                ):
                    pv = RF.eval_range_function_prefix(
                        ctx, "present_over_time", m_node.selector, rng, off
                    )
                    return FN.eval_absent(
                        ctx, pv, _inferred_labels(node.args[0])
                    )
            w, _dim, _, mode = self._matrix_arg(node.args[0])
            if mode is not None:
                raise PromQLEvalError(f"{mode} modifier cannot be used with absent_over_time")
            inferred = _inferred_labels(node.args[0])
            return FN.eval_absent_over_time(ctx, w, inferred)

        if fn in FN._SIMPLE_MATH:
            return self._guarded(FN.eval_simple_math(fn, self._vector_or_default(node.args, 0)))
        if fn == "round":
            to = 1.0
            if len(node.args) > 1:
                p = self._scalar(node.args[1])
                if not isinstance(p, ConstScalar):
                    raise PromQLEvalError("round: scalar parameter required")
                to = p.value
            return FN.eval_round(self._vector(node.args[0]), to)
        if fn == "clamp":
            lo, hi = self._const(node.args[1]), self._const(node.args[2])
            return FN.eval_clamp(self._vector(node.args[0]), lo, hi)
        if fn == "clamp_max":
            return FN.eval_clamp_one(self._vector(node.args[0]), self._const(node.args[1]), True)
        if fn == "clamp_min":
            return FN.eval_clamp_one(self._vector(node.args[0]), self._const(node.args[1]), False)
        if fn in FN._DATE_FUNCS:
            return FN.eval_date_func(fn, self._vector_or_default(node.args, 0))
        if fn == "timestamp":
            return FN.eval_timestamp(self._vector(node.args[0]))
        if fn == "start_timestamp":
            return FN.eval_start_timestamp(self._vector(node.args[0]))
        if fn == "scalar":
            return FN.eval_scalar(ctx, self._vector(node.args[0]))
        if fn == "vector":
            return FN.eval_vector(ctx, self._scalar(node.args[0]))
        if fn == "absent":
            vf = self._vector(node.args[0])
            return FN.eval_absent(ctx, vf, _inferred_labels(node.args[0]))
        if fn == "label_replace":
            args = [self._string(a) for a in node.args[1:]]
            return self._guarded(FN.eval_label_replace(self._vector(node.args[0]), *args, ctx=ctx))
        if fn == "label_join":
            dst, sep = self._string(node.args[1]), self._string(node.args[2])
            srcs = [self._string(a) for a in node.args[3:]]
            return self._guarded(FN.eval_label_join(self._vector(node.args[0]), dst, sep, srcs, ctx=ctx))
        if fn in ("sort", "sort_desc"):
            # presentation-order only (functions.go:1046-1055); ordering is
            # applied by the result shaper; histogram samples are dropped
            vf = self._vector(node.args[0])
            return VectorFrame(
                fact=vf.fact.filter(F.col("value").isNotNull()), dim=vf.dim
            )
        if fn in ("sort_by_label", "sort_by_label_desc"):
            # lexicographic label order — applied by the result shaper
            return self._vector(node.args[0])
        if fn in ("histogram_count", "histogram_sum", "histogram_avg",
                  "histogram_stddev", "histogram_stdvar"):
            from prometheus_spark.engine.hist_functions import eval_hist_accessor

            return self._guarded(eval_hist_accessor(ctx, fn, self._vector(node.args[0])))
        if fn == "histogram_quantile":
            phi = self._scalar(node.args[0])
            vf = self._vector(node.args[1])
            classic = FN.eval_histogram_quantile_classic(ctx, phi, vf)
            if "hist" in vf.fact.columns and isinstance(phi, ConstScalar):
                from prometheus_spark.engine.hist_functions import (
                    eval_hist_quantile_native,
                )

                native = eval_hist_quantile_native(
                    ctx, float(phi.value), FN.filter_conflicting_native(vf)
                )
                # native output sigs are the untouched series sigs — the
                # input dim covers them; classic contributes its
                # labels-minus-le dim
                dim = ctx.dim_dedup(classic.dim.unionByName(vf.dim))
                return self._guarded(VectorFrame(
                    fact=classic.fact.unionByName(native), dim=dim
                ))
            return self._guarded(classic)
        if fn == "histogram_quantiles":
            # multi-φ variant adding a quantile label (functions.go:2243)
            from prometheus_spark.model.labels import sig_expr as _sig

            vf = self._vector(node.args[0])
            lbl = self._string(node.args[1])
            out = None
            for arg in node.args[2:]:
                phi = self._scalar(arg)
                if not isinstance(phi, ConstScalar):
                    raise PromQLEvalError("histogram_quantiles: scalar φ required")
                res = self._call(Call("histogram_quantile", [arg, node.args[0]]))
                pv = phi.value
                txt = "NaN" if math.isnan(pv) else str(float(pv))
                new_labels = F.map_concat(
                    F.map_filter("labels", lambda k, _: k != F.lit(lbl)),
                    F.create_map(F.lit(lbl), F.lit(txt)),
                )
                df = res.df.select(
                    _sig(new_labels).alias("sig"),
                    new_labels.alias("labels"),
                    "t",
                    "sample_t",
                    "value",
                    "drop_name",
                )
                out = df if out is None else out.unionByName(df)
            return self._guarded(VectorFrame(out))
        if fn == "histogram_fraction":
            lo, up = self._const(node.args[0]), self._const(node.args[1])
            vf = self._vector(node.args[2])
            classic = FN.eval_histogram_fraction_classic(ctx, lo, up, vf)
            if "hist" in vf.fact.columns:
                from prometheus_spark.engine.hist_functions import (
                    eval_hist_fraction_native,
                )

                native = eval_hist_fraction_native(
                    ctx, lo, up, FN.filter_conflicting_native(vf)
                )
                dim = ctx.dim_dedup(classic.dim.unionByName(vf.dim))
                return self._guarded(VectorFrame(
                    fact=classic.fact.unionByName(native), dim=dim
                ))
            return self._guarded(classic)
        if fn == "info":
            return self._info(node)
        raise PromQLEvalError(f"function {fn} not implemented")

    def _info(self, node: Call):
        """info(v[, data-selector]) — enrichment join on identifying labels
        (promql/info.go:39; identifying labels hardcoded instance,job)."""
        from prometheus_spark.engine.info import eval_info

        base = self._vector(node.args[0])
        data_matchers = None
        if len(node.args) > 1:
            sel = node.args[1]
            while isinstance(sel, ParenExpr):
                sel = sel.expr
            if not isinstance(sel, VectorSelector):
                raise PromQLEvalError("info: second argument must be a label selector")
            data_matchers = sel.matchers
        return eval_info(self.ctx, base, data_matchers)

    def _vector_or_default(self, args, idx) -> VectorFrame:
        """Date functions default to vector(time()) when no arg is given."""
        if len(args) > idx:
            return self._vector(args[idx])
        return FN.eval_vector(
            self.ctx, ScalarFrame(self.ctx.grid.select("t", (F.col("t") / 1000.0).alias("value")))
        )

    def _const(self, node: Expr) -> float:
        v = self.eval(node)
        if isinstance(v, ConstScalar):
            return v.value
        raise PromQLEvalError("expected a constant scalar")

    def _string(self, node: Expr) -> str:
        v = self.eval(node)
        if isinstance(v, StringValue):
            return v.value
        raise PromQLEvalError("expected a string literal")


def _inferred_labels(node: Expr) -> dict[str, str]:
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
