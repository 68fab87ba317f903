"""Per-step query sample statistics — the ``stats=all`` /
``promql-per-step-stats`` surface.

Reference: util/stats/query_stats.go (``QuerySamples``: zero-filled
per-step grids allocated by ``InitStepTracking`` :301, stepStat JSON
``[t/1000, v]`` :90, ``MergeSamplesReadFromSubquery`` :445) and the
evaluator's accounting in promql/engine.go:

* ``evalSeries`` (:1846): one queryable sample per series per step where
  a point is selected; native histograms weigh ``Size()/16``.
* the matrix-argument series loop (:2300): every step counts the full
  window (``fullWindowCount``); ``samplesRead`` counts only the points
  past the previous step's window edge (``countSamplesAfter``), and
  nothing after step 0 under an ``@`` modifier (no refetch).
* ``runSubquery``/``evalSubquery`` (:1932,:2003): a child evaluator on
  the subquery's own grid; only peak + samples-read merge up (shifted by
  the outer offset, gap-filtered by the outer range); totals are
  re-counted from the materialized matrix by the consumer.
* ``StepInvariantExpr`` (:2565): evaluated once, totals replayed at
  every step, reads attributed to step 0 only.
* ``peakSamples`` = the high-water mark of ``ev.currentSamples`` — the
  evaluator-memory model (buffers held per series in the matrix loop,
  outputs accumulated, hard reset to ``original + output`` after each
  ``rangeEval``), mirrored exactly below.

Golden parity: tests/test_query_stats.py replays the expected-value
tables of the reference's ``TestQueryStatistics``
(promql/engine_test.go:777) verbatim.

Spark-first design: the counts come from bounded aggregates over the
SAME windowed frames the real evaluator scans — one row per
(series, step), the same cardinality as the query result the API
returns, never raw samples shipped to the driver.  The accounting walk
itself is driver-side arithmetic over those aggregates (the reference
does all of this single-node too).  Cost: one counting job per
selector, paid only when a caller asks for stats.

Approximations (outside the reference's golden tables): anchored /
smoothed selector buffers are costed as plain windows, and output
cardinalities of set-matching binops / ``count_values`` are estimated —
totals, reads and grid shape stay exact for every selector.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_spark.parser import parse_expr
from prometheus_spark.parser.ast import (
    AggregateExpr,
    BinaryExpr,
    Call,
    MatrixSelector,
    NumberLiteral,
    ParenExpr,
    StringLiteral,
    SubqueryExpr,
    UnaryExpr,
    VectorSelector,
    resolve_duration_ms,
)

# ---------------------------------------------------------------------
# sample memory weights

def _weight(df: DataFrame):
    """Per-row queryable-sample weight: floats count 1; a native
    histogram counts its equivalent float-sample size — Size()/16
    (promql/value.go:282; FloatHistogram.Size at float_histogram.go:649:
    168 fixed bytes + 8 per span/bucket/custom bound)."""
    if "hist" not in df.columns:
        return F.lit(1)
    h = F.col("hist")

    def sz(fieldname):
        return F.coalesce(F.size(h[fieldname]), F.lit(0))

    size_bytes = (
        F.lit(168)
        + 8 * (sz("pos_spans") + sz("neg_spans"))
        + 8 * (sz("pos_buckets") + sz("neg_buckets") + sz("custom_values"))
    )
    return F.when(
        h.isNotNull(), F.floor(size_bytes / 16).cast("long")
    ).otherwise(F.lit(1))


def _hist_flag(df: DataFrame):
    if "hist" not in df.columns:
        return F.lit(False)
    return F.col("hist").isNotNull()


# ---------------------------------------------------------------------
# step-invariant preprocessing (engine.go:4525 preprocessExpr)

# promql/functions.go:2756 AtModifierUnsafeFunctions
_AT_UNSAFE = {
    "days_in_month", "day_of_month", "day_of_week", "day_of_year",
    "end", "hour", "minute", "month", "year",
    "predict_linear", "range", "start", "step", "time",
    "timestamp",
}


@dataclass
class _SI:
    """StepInvariantExpr marker (engine.go:4639 newStepInvariantExpr)."""

    expr: object


def _preprocess(node):
    _, should = _pre(node)
    return _SI(node) if should else node


def _pre(node):
    """→ (isStepInvariant, shouldWrap); wraps children in place
    (engine.go:4538 preprocessExprHelper)."""
    if isinstance(node, VectorSelector):
        inv = node.at is not None
        return inv, inv
    if isinstance(node, AggregateExpr):
        return _pre(node.expr)
    if isinstance(node, BinaryExpr):
        li, lw = _pre(node.lhs)
        ri, rw = _pre(node.rhs)
        if li and ri:
            return True, True
        if lw:
            node.lhs = _SI(node.lhs)
        if rw:
            node.rhs = _SI(node.rhs)
        return False, False
    if isinstance(node, Call):
        inv = node.func not in _AT_UNSAFE
        ts_safe = node.func == "timestamp"
        wraps = []
        for i, a in enumerate(node.args):
            while isinstance(a, ParenExpr):
                a = a.expr
                node.args[i] = a
            ai, aw = _pre(a)
            wraps.append(aw)
            inv = inv and ai
            if not (ai and isinstance(a, VectorSelector)):
                ts_safe = False
        if inv or ts_safe:
            return True, True
        for i, w in enumerate(wraps):
            if w:
                node.args[i] = _SI(node.args[i])
        return False, False
    if isinstance(node, MatrixSelector):
        i, _ = _pre(node.selector)
        return i, False
    if isinstance(node, SubqueryExpr):
        i, _ = _pre(node.expr)
        if i:
            node.expr = _SI(node.expr)
        return node.at is not None, False
    if isinstance(node, (ParenExpr, UnaryExpr)):
        return _pre(node.expr)
    # literals and duration expressions
    return True, False


# ---------------------------------------------------------------------
# driver-side value shapes

_SCALAR = "\x00scalar"


@dataclass
class _Pt:
    size: int
    hist: bool = False


@dataclass
class _Ser:
    key: str
    labels: dict
    pts: dict = field(default_factory=dict)  # t → _Pt

    def total(self) -> int:
        return sum(p.size for p in self.pts.values())


@dataclass
class _Win:
    """One (series, step) window composition."""

    n_float: int = 0
    h_sz: int = 0
    n_hist: int = 0
    last_h: int = 0
    new_f: int = 0
    new_h: int = 0

    @property
    def mem(self) -> int:  # fullWindowCount (engine.go:2331)
        return self.n_float + self.h_sz

    @property
    def new_mem(self) -> int:  # countSamplesAfter
        return self.new_f + self.new_h


# range functions needing ≥2 points to produce a value
_NEED2 = {
    "rate", "increase", "delta", "idelta", "irate", "deriv",
    "predict_linear", "double_exponential_smoothing",
}
# range functions producing a histogram output on a histogram window
_HIST_OUT = {
    "rate", "increase", "delta", "irate", "idelta",
    "avg_over_time", "sum_over_time", "last_over_time", "first_over_time",
}
# count-style: work regardless of sample type
_COUNTISH = {"count_over_time", "present_over_time", "changes", "resets",
             "absent_over_time"}


def _range_fn_out(fname: str, w: _Win) -> _Pt | None:
    """Output size of one range-function call over one window —
    mirrors the per-function emptiness rules well enough for the
    reference's golden accounting tables (exact for *_over_time,
    rate-family and histogram windows)."""
    mixed = w.n_float > 0 and w.n_hist > 0
    if fname in _COUNTISH:
        return _Pt(1) if (w.n_float + w.n_hist) > 0 else None
    if fname in _NEED2:
        if mixed:
            return None  # annotation, no output
        if w.n_float >= 2:
            return _Pt(1)
        if w.n_hist >= 2 and fname in _HIST_OUT:
            return _Pt(w.last_h, hist=True)
        return None
    if fname in ("sum_over_time", "avg_over_time"):
        if mixed:
            return None
        if w.n_float > 0:
            return _Pt(1)
        if w.n_hist > 0:
            return _Pt(w.last_h, hist=True)
        return None
    if fname in ("last_over_time", "first_over_time"):
        if w.n_float > 0:
            return _Pt(1)
        if w.n_hist > 0:
            return _Pt(w.last_h, hist=True)
        return None
    # float-only aggregating functions (max/min/quantile/stddev/stdvar/
    # mad/ts_of_* …): histograms are skipped with an info annotation
    return _Pt(1) if w.n_float > 0 else None


# ---------------------------------------------------------------------
# Spark aggregate fetchers (one counting job per selector)

def _fetch_vs(ctx, node) -> dict:
    """Vector-selector per-(series, step) sample sizes → {key: (labels,
    {t: _Pt})}.  Bounded: ≤ series × steps rows."""
    from prometheus_spark.engine.selectors import eval_vector_selector

    df = eval_vector_selector(ctx, node).df
    present = F.col("value").isNotNull()
    if "hist" in df.columns:
        present = present | F.col("hist").isNotNull()
    rows = (
        df.filter(present)
        .select(
            "sig", "labels", "t",
            _weight(df).alias("w"), _hist_flag(df).alias("h"),
        )
        .collect()
    )
    out: dict = {}
    for r in rows:
        labels, pts = out.setdefault(r["sig"], (dict(r["labels"]), {}))
        pts[r["t"]] = _Pt(int(r["w"]), bool(r["h"]))
    return out


def _fetch_ms(ctx, selector, range_ms: int, offset_ms: int, at) -> dict:
    """Matrix-selector per-(series, step) window composition → {key:
    (labels, {step_t: _Win})}.  Bounded: ≤ series × steps rows."""
    from prometheus_spark.engine.selectors import windowed_samples

    w, dim = windowed_samples(ctx, selector, range_ms, offset_ms=offset_ms, at=at)
    wt = _weight(w)
    ish = _hist_flag(w)
    new = F.col("sample_t") > (F.col("wend") - F.lit(ctx.step_ms))
    rows = (
        w.join(dim, "sig")
        .groupBy("sig", "t")
        .agg(
            F.first("labels").alias("labels"),
            F.sum(F.when(~ish, 1).otherwise(0)).alias("nf"),
            F.sum(F.when(ish, wt).otherwise(0)).alias("hs"),
            F.sum(F.when(ish, 1).otherwise(0)).alias("nh"),
            F.max_by(F.when(ish, wt), F.when(ish, F.col("sample_t"))).alias("lh"),
            F.sum(F.when(~ish & new, 1).otherwise(0)).alias("nf_new"),
            F.sum(F.when(ish & new, wt).otherwise(0)).alias("nh_new"),
        )
        .collect()
    )
    out: dict = {}
    for r in rows:
        labels, per_t = out.setdefault(r["sig"], (dict(r["labels"]), {}))
        per_t[r["t"]] = _Win(
            n_float=int(r["nf"] or 0), h_sz=int(r["hs"] or 0),
            n_hist=int(r["nh"] or 0), last_h=int(r["lh"] or 0),
            new_f=int(r["nf_new"] or 0), new_h=int(r["nh_new"] or 0),
        )
    return out


def _windows_from_mat(mat, steps, interval, range_ms, offset_ms, at_ref):
    """Window composition over a materialized (subquery) matrix —
    driver-side; the points are already collected child outputs."""
    out: dict = {}
    for s in mat:
        per_t: dict = {}
        for ts in steps:
            maxt = at_ref if at_ref is not None else ts - offset_ms
            win = _Win()
            for pt_t, p in s.pts.items():
                if maxt - range_ms < pt_t <= maxt:
                    if p.hist:
                        win.n_hist += 1
                        win.h_sz += p.size
                        win.last_h = p.size
                    else:
                        win.n_float += 1
                    if pt_t > maxt - interval:
                        if p.hist:
                            win.new_h += p.size
                        else:
                            win.new_f += 1
            if win.mem:
                per_t[ts] = win
        out[s.key] = (dict(s.labels), per_t)
    return out


# ---------------------------------------------------------------------
# the accounting evaluator

class _Ev:
    """Mirror of promql/engine.go's evaluator, counting only."""

    def __init__(self, ctx, track: bool, current: int):
        self.ctx = ctx
        self.start = ctx.start_ms
        self.step = ctx.step_ms
        self.n = ctx.num_steps
        self.end = self.start + (self.n - 1) * self.step  # snapped
        self.steps = [self.start + k * self.step for k in range(self.n)]
        self.totals = [0] * self.n if track else None
        self.reads = [0] * self.n if track else None
        self.total = 0
        self.read = 0
        self.peak = 0
        self.current = current

    # -- stats primitives ------------------------------------------------
    def inc_total(self, k: int, nv: int) -> None:
        self.total += nv
        if self.totals is not None:
            self.totals[k] += nv

    def inc_total_at(self, t: int, nv: int) -> None:
        self.inc_total((t - self.start) // self.step, nv)

    def inc_read(self, k: int, nv: int) -> None:
        self.read += nv
        if self.reads is not None:
            self.reads[k] += nv

    def upd_peak(self, v: int | None = None) -> None:
        self.peak = max(self.peak, self.current if v is None else v)

    def merge_reads(self, child: "_Ev", outer_offset: int, outer_range: int):
        """stats.MergeSamplesReadFromSubquery (query_stats.go:445)."""
        if self.n <= 1:
            self.read += child.read
            if self.reads is not None:
                self.reads[0] += child.read
            return
        for k in range(child.n):
            nv = child.reads[k]
            if not nv:
                continue
            tk = child.start + k * child.step + outer_offset
            os_ = 0
            if tk > self.start:
                os_ = (tk - self.start + self.step - 1) // self.step
            os_ = min(os_, self.n - 1)
            if outer_range > 0:
                parent_ts = self.start + os_ * self.step
                if tk <= parent_ts - outer_range:
                    continue
            self.read += nv
            if self.reads is not None:
                self.reads[os_] += nv

    def _dur(self, v) -> int:
        return resolve_duration_ms(v, self.ctx.duration_vars())

    # -- eval dispatch (engine.go eval) -----------------------------------
    def eval(self, node):
        if isinstance(node, _SI):
            return self._eval_si(node)
        if isinstance(node, ParenExpr):
            return self.eval(node.expr)
        if isinstance(node, StringLiteral):
            return []
        if isinstance(node, NumberLiteral):
            return self._range_eval(lambda mats: [self._scalar_out()])
        if isinstance(node, VectorSelector):
            return self._eval_vs(node)
        if isinstance(node, MatrixSelector):
            return self._eval_ms_bare(node)
        if isinstance(node, SubqueryExpr):
            return self._eval_subquery_bare(node)
        if isinstance(node, Call):
            return self._eval_call(node)
        if isinstance(node, AggregateExpr):
            return self._eval_agg(node)
        if isinstance(node, BinaryExpr):
            return self._range_eval(
                lambda mats: self._binop_out(node, mats[0], mats[1]),
                node.lhs, node.rhs,
            )
        if isinstance(node, UnaryExpr):
            return self._range_eval(lambda mats: mats[0], node.expr)
        return []  # duration expressions and other leaf-like nodes

    def _scalar_out(self) -> _Ser:
        return _Ser(_SCALAR, {}, {ts: _Pt(1) for ts in self.steps})

    # -- rangeEval (engine.go:1410): args, then per-step output vector ----
    def _range_eval(self, out_fn, *arg_nodes):
        original = self.current
        mats = [self.eval(a) for a in arg_nodes]
        out = out_fn(mats)
        out_total = sum(s.total() for s in out)
        # per-step: currentSamples = temp + outputs-so-far (monotone)
        self.upd_peak(self.current + out_total)
        self.current = original + out_total
        self.upd_peak()
        return out

    # -- vector selector (evalSeries, engine.go:1846) ----------------------
    def _eval_vs(self, node):
        data = _fetch_vs(self.ctx, node)
        out = []
        for key in sorted(data):
            labels, pts = data[key]
            for k, ts in enumerate(self.steps):
                p = pts.get(ts)
                if p is None:
                    continue
                self.current += p.size
                self.inc_total(k, p.size)
                self.inc_read(k, p.size)
            out.append(_Ser(key, labels, pts))
        self.upd_peak()
        return out

    # -- bare matrix selector (instant only; engine.go:2549,2888) ----------
    def _eval_ms_bare(self, node):
        rng = self._dur(node.range_ms)
        off = self._dur(node.selector.offset_ms)
        from prometheus_spark.engine.selectors import windowed_samples

        w, _ms_dim = windowed_samples(
            self.ctx, node.selector, rng, offset_ms=off, at=node.selector.at
        )
        w = w.join(_ms_dim, "sig")
        # bare matrix selectors are root-only (instant queries — one
        # window per series) and the per-point breakdown is never read
        # downstream, so aggregate the window weight SERVER-side: the
        # collect is bounded to one row per series instead of one row
        # per sample (a stats=all on big_metric[1d] previously pulled
        # every sample in the day to the driver)
        rows = (
            w.groupBy("sig")
            .agg(
                F.first("labels").alias("labels"),
                F.sum(_weight(w)).alias("tw"),
            )
            .collect()
        )
        out = []
        tot = 0
        for r in sorted(rows, key=lambda r: r["sig"]):
            # single synthetic point carrying the window total — total()
            # and the peak accounting see the same numbers as before
            s = _Ser(r["sig"], dict(r["labels"]), {0: _Pt(int(r["tw"] or 0))})
            tot += s.total()
            self.current += s.total()
            out.append(s)
        self.inc_total_at(self.start, tot)
        self.inc_read(0, tot)
        self.upd_peak()
        return out

    # -- subqueries (runSubquery, engine.go:1932) ---------------------------
    def _run_subquery(self, node):
        step = self._dur(node.step_ms) if node.step_ms else 60_000
        offset = self._dur(node.offset_ms)
        rng = self._dur(node.range_ms)
        if node.at is not None:
            ref = self.ctx.resolve_at(node.at) - offset
            inner_end, outer_start = ref, ref
        else:
            inner_end = self.end - offset  # snapped parentEnd
            outer_start = self.start - offset
        inner_start = (outer_start - rng) // step * step
        if inner_start <= outer_start - rng:
            inner_start += step
        if inner_start > inner_end:
            child = _Ev(self.ctx.with_grid(self.start, self.start, 1),
                        track=True, current=self.current)
            return [], child, rng, offset
        child_ctx = self.ctx.with_grid(inner_start, inner_end, step)
        child = _Ev(child_ctx, track=True, current=self.current)
        mat = child.eval(node.expr)
        self.current = child.current
        return mat, child, rng, offset

    def _eval_subquery_bare(self, node):
        mat, child, _, _ = self._run_subquery(node)
        self.peak = max(self.peak, child.peak)
        self.inc_total_at(self.end, child.total)
        self.merge_reads(child, 0, 0)
        return mat

    # -- StepInvariantExpr (engine.go:2565) ---------------------------------
    def _eval_si(self, node):
        child_ctx = self.ctx.with_grid(self.start, self.start, self.step)
        child = _Ev(child_ctx, track=False, current=self.current)
        mat = child.eval(node.expr)
        self.current = child.current
        self.peak = max(self.peak, child.peak)
        for k in range(self.n):
            self.inc_total(k, child.total)
        self.read += child.read
        if self.reads is not None:
            self.reads[0] += child.read
        inner = node.expr
        while isinstance(inner, ParenExpr):
            inner = inner.expr
        if isinstance(inner, (MatrixSelector, SubqueryExpr)):
            return mat
        # duplicate the single-step vector result across the grid
        out = []
        for s in mat:
            if not s.pts:
                out.append(s)
                continue
            p = next(iter(s.pts.values()))
            self.current += p.size * (self.n - 1)
            out.append(_Ser(s.key, s.labels,
                            {ts: _Pt(p.size, p.hist) for ts in self.steps}))
        self.upd_peak()
        return out

    # -- calls ---------------------------------------------------------------
    def _eval_call(self, node):
        fname = node.func
        args = list(node.args)
        for i, a in enumerate(args):
            while isinstance(a, ParenExpr):
                a = a.expr
                args[i] = a
        if fname in ("timestamp", "start_timestamp") and args and isinstance(
            args[0], VectorSelector
        ):
            return self._eval_timestamp(args[0])

        midx = None
        for i, a in enumerate(args):
            if isinstance(a, (MatrixSelector, SubqueryExpr)):
                midx = i
                break
        if midx is None:
            return self._range_eval(
                lambda mats: self._call_out(fname, args, mats), *args
            )

        marg = args[midx]
        subq_total = 0
        if isinstance(marg, SubqueryExpr):
            rng = self._dur(marg.range_ms)
            submat, child, _, orig_off = self._run_subquery(marg)
            self.peak = max(self.peak, child.peak)
            self.merge_reads(child, orig_off, rng)
            at_ref = (
                self.ctx.resolve_at(marg.at) - orig_off
                if marg.at is not None else None
            )
            wins = _windows_from_mat(
                submat, self.steps, self.step, rng, orig_off, at_ref
            )
            from_subquery = True
            at_set = marg.at is not None
            subq_total = sum(s.total() for s in submat)
        else:
            rng = self._dur(marg.range_ms)
            off = self._dur(marg.selector.offset_ms)
            wins = _fetch_ms(self.ctx, marg.selector, rng, off,
                             marg.selector.at)
            from_subquery = False
            at_set = marg.selector.at is not None

        # non-matrix args are evaluated before the series loop
        for i, a in enumerate(args):
            if i != midx:
                self.eval(a)
        out = self._series_loop(fname, wins, from_subquery, at_set)
        # deferred subquery-matrix release (engine.go:2144)
        self.current -= subq_total
        return out

    def _series_loop(self, fname, wins, from_subquery: bool, at_set: bool):
        """The matrix-argument per-series step loop (engine.go:2245-2410)."""
        out = []
        prev_buf = 0
        for key in sorted(wins):
            labels, per_t = wins[key]
            self.current -= prev_buf
            buf = 0
            out_pts: dict = {}
            for k, ts in enumerate(self.steps):
                w = per_t.get(ts)
                refetch = (k == 0) or not at_set
                if refetch:
                    self.current -= buf
                    buf = w.mem if w else 0
                    self.current += buf
                self.upd_peak()
                if w is None or w.mem == 0:
                    continue
                self.inc_total(k, w.mem)
                if refetch and not from_subquery:
                    r = w.mem if k == 0 else w.new_mem
                    if r:
                        self.inc_read(k, r)
                p = _range_fn_out(fname, w)
                if p is not None:
                    out_pts[ts] = p
            s = _Ser(key, labels, out_pts)
            self.current += s.total()
            self.upd_peak()
            out.append(s)
            prev_buf = buf
        self.current -= prev_buf
        return out

    # -- timestamp()/start_timestamp() over a bare selector
    #    (rangeEvalTimestampFunctionOverVectorSelector, engine.go:2660) ----
    def _eval_timestamp(self, vs):
        data = _fetch_vs(self.ctx, vs)
        cum = 0
        out = {key: (labels, {}) for key, (labels, _) in data.items()}
        for k, ts in enumerate(self.steps):
            nk = 0
            for key, (labels, pts) in data.items():
                if ts in pts:
                    nk += 1
                    out[key][1][ts] = _Pt(1)
            # one queryable sample per series per step, ALWAYS weight 1 —
            # the call only cares about the timestamp (engine.go:2706)
            self.inc_total(k, nk)
            self.inc_read(k, nk)
            self.upd_peak(self.current + cum + 2 * nk)
            cum += nk
        self.current += cum
        self.upd_peak()
        return [_Ser(key, labels, pts) for key, (labels, pts)
                in sorted(out.items())]

    # -- aggregation (engine.go:2092 + rangeEvalAgg) ---------------------------
    def _eval_agg(self, node):
        original = self.current
        k_hint = 1
        if node.param is not None:
            p = node.param
            while isinstance(p, ParenExpr):
                p = p.expr
            if isinstance(p, NumberLiteral):
                k_hint = max(0, int(p.value))
            self.eval(node.param)
        in_mat = self.eval(node.expr)

        def gkey(labels: dict):
            if node.without:
                drop = set(node.grouping) | {"__name__"}
                return tuple(sorted(
                    (n, v) for n, v in labels.items() if n not in drop))
            return tuple((g, labels.get(g, "")) for g in node.grouping)

        groups: dict = {}
        for s in in_mat:
            g = groups.setdefault(gkey(s.labels), [])
            g.append(s)
        out = []
        for gk in sorted(groups):
            members = groups[gk]
            pts: dict = {}
            for ts in self.steps:
                present = [s.pts[ts] for s in members if ts in s.pts]
                if not present:
                    continue
                if node.op in ("topk", "bottomk", "limitk", "limit_ratio"):
                    # k output series per group per step (approximate)
                    pts[ts] = _Pt(min(k_hint, len(present)))
                elif node.op in ("sum", "avg"):
                    pts[ts] = _Pt(max(p.size for p in present),
                                  any(p.hist for p in present))
                else:
                    pts[ts] = _Pt(1)
            out.append(_Ser("agg:" + repr(gk), dict(gk), pts))
        out_total = sum(s.total() for s in out)
        self.current = original + out_total
        self.upd_peak()
        return out

    # -- output models for vector-arg calls and binops -----------------------
    def _call_out(self, fname, args, mats):
        if fname in ("time", "pi", "scalar"):
            return [self._scalar_out()]
        vec = next((m for m in mats
                    if m and not (len(m) == 1 and m[0].key == _SCALAR)), None)
        if fname == "vector":
            return [_Ser("", {}, {ts: _Pt(1) for ts in self.steps})]
        if fname == "absent":
            present = set()
            if vec:
                for s in vec:
                    present.update(s.pts.keys())
            pts = {ts: _Pt(1) for ts in self.steps if ts not in present}
            return [_Ser("absent", {}, pts)] if pts else []
        if vec is None:
            # zero-arg date functions: vector(time()) sugar → one series
            return [_Ser("", {}, {ts: _Pt(1) for ts in self.steps})]
        if fname in ("sort", "sort_desc", "sort_by_label",
                     "sort_by_label_desc", "label_replace", "label_join",
                     "info"):
            return vec  # passthrough, sizes preserved
        # float-producing functions: each input point → one float
        return [
            _Ser(s.key, s.labels, {t: _Pt(1) for t in s.pts})
            for s in vec
        ]

    def _binop_out(self, node, lmat, rmat):
        lsc = len(lmat) == 1 and lmat[0].key == _SCALAR
        rsc = len(rmat) == 1 and rmat[0].key == _SCALAR
        if lsc and rsc:
            return [self._scalar_out()]
        if lsc or rsc:
            vec = rmat if lsc else lmat
            return [
                _Ser(s.key, s.labels, dict(s.pts)) for s in vec
            ]
        if node.op == "or":
            lkeys = {s.key for s in lmat}
            return list(lmat) + [s for s in rmat if s.key not in lkeys]
        if node.op == "unless":
            return list(lmat)
        # and / arithmetic / comparison: lhs points at steps where the rhs
        # has any point (approximate matching)
        r_steps = set()
        for s in rmat:
            r_steps.update(s.pts.keys())
        return [
            _Ser(s.key, s.labels,
                 {t: p for t, p in s.pts.items() if t in r_steps})
            for s in lmat
        ]


# ---------------------------------------------------------------------

def query_samples_stats(
    engine, query: str, start_ms: int, end_ms: int, step_ms: int
) -> dict:
    """→ the ``samples`` stats object of a query response
    (util/stats/query_stats.go:105 ``querySamples``): zero-filled
    per-step grids, totals, reads and the evaluator-memory peak."""
    node = _preprocess(parse_expr(query))
    ctx = engine._ctx(start_ms, end_ms, step_ms)
    ev = _Ev(ctx, track=True, current=0)
    ev.eval(node)
    return {
        "totalQueryableSamples": ev.total,
        "totalQueryableSamplesPerStep": [
            [t / 1000.0, ev.totals[k]] for k, t in enumerate(ev.steps)
        ],
        "samplesRead": ev.read,
        "samplesReadPerStep": [
            [t / 1000.0, ev.reads[k]] for k, t in enumerate(ev.steps)
        ],
        "peakSamples": ev.peak,
    }
