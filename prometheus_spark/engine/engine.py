"""Public engine facade.

Mirrors the reference query lifecycle (SURVEY §3): parse → plan-time
rewrites (folded by the parser/evaluator) → evaluate over the step grid →
result shaping (sorted by label set, engine.go:907).
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_spark.engine.context import EvalContext
from prometheus_spark.engine.evaluator import Evaluator
from prometheus_spark.engine.values import (
    ConstScalar,
    ScalarFrame,
    StringValue,
    VectorFrame,
    scalar_frame_from_const,
)
from prometheus_spark.model.schema import DEFAULT_LOOKBACK_MS
from prometheus_spark.parser import parse_expr


# Engine tuning constants.
#
# Series-dim row counts under which dim-side joins broadcast
# (EvalContext.dims_broadcastable) and dim-side dedups run on one
# partition (EvalContext.dims_tiny).
DIM_BC_MAX = 2_000_000
DIM_TINY_MAX = 65_536
# Estimated result rows under which the result sort runs on ONE range
# partition.  A global ``orderBy`` plans a range exchange whose
# partitioner SAMPLES its child — re-executing the entire query chain
# once just to pick split points (measured: the two window/aggregate
# stages of ``rate(x[1d])`` each run twice, doubling query CPU).
# ``repartitionByRange(1, ...)`` skips sampling outright, so small
# results — most PromQL answers: series × steps rows — pay one parallel
# map pass plus a single-task merge sort instead of two full
# executions.  Measured crossover: at 100k rows (100 series × 1000
# steps) the one-partition sort wins 2-3× on the macro bench; at 450k
# rows (1500 series × 300 steps, 24 labels) the serial merge sort costs
# more than re-executing the cheap explode chain (wide-labels bench:
# rate 2.57 → 1.55 s, binop 2.29 → 1.40 s on the sampled path).
SORT_ONE_MAX = 200_000
# Plan-cache construction-time budget (see PromQLEngine.__init__).
PLAN_CACHE_BUDGET_MS = 30_000.0


def _nd_stats(dim2: DataFrame) -> tuple:
    """One fused probe job over the name-drop candidate dim: (row count,
    collision bit).  A collision exists iff the multiset of per-row
    candidate sigs — {sig} ∪ {__s_nd if different} — holds a duplicate,
    i.e. its distinct count is short of its size; the row count rides
    along as the number of position-0 (sig) entries."""
    from pyspark.sql import functions as F

    row = (
        dim2.selectExpr(
            "posexplode(array_distinct(array(sig, __s_nd))) AS (p, c)"
        )
        .agg(
            F.sum(F.expr("IF(p = 0, 1L, 0L)")).alias("n"),
            F.count("*").alias("ne"),
            F.countDistinct("c").alias("d"),
        )
        .head()
    )
    n = int(row["n"] or 0)
    return n, int(row["d"]) < int(row["ne"])


class PromQLEngine:
    """Evaluate PromQL over a canonical samples DataFrame.

    ``samples`` must follow ``model.schema.SAMPLE_SCHEMA`` (plus the hot
    ``name`` column).  Use ``prometheus_spark.storage`` helpers to build it.
    """

    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
        strict: bool = True,
        kahan: bool = False,
        ordered: bool = True,
        plan_cache_size: int = 256,
    ):
        self.spark = spark
        self._samples = samples
        self.lookback_ms = lookback_ms
        self.strict = strict
        self.kahan = kahan
        # ordered=False skips the final global sort (reference output
        # ordering, engine.go:907) — for order-insensitive consumers
        # like the corpus runner it is a pure extra exchange per query
        self.ordered = ordered
        # Logical-plan cache: parse + plan construction + Catalyst analysis
        # cost ~200-300 ms per query and are identical for a repeated
        # (query, grid) pair — the dominant pattern under dashboard load,
        # where panels re-issue step-aligned queries every refresh.
        # DataFrames are immutable plan handles, so reuse is safe; execution
        # still happens per call.  Bounded FIFO to cap driver memory.
        # A lock guards put/evict: concurrent rule evaluation (SURVEY §2.8,
        # reference rules/manager.go concurrent_rule_eval) drives this cache
        # from multiple driver threads.
        #
        # Entries are weighted by their plan-CONSTRUCTION cost: a cached
        # DataFrame pins its full analyzed Catalyst tree in the JVM, and
        # tree size tracks the py4j/analysis work that built it.  Classic-
        # histogram queries (per-`le` pivots) build trees 10-100x a plain
        # selector's — ~150 of them retained at once GC-storms an 8 GiB
        # driver (measured round 11; the corpus runner now opts out with
        # plan_cache_size=0 since test queries never repeat).  The cache
        # therefore evicts FIFO past EITHER the entry cap OR a total
        # construction-time budget, so it holds ~256 cheap dashboard plans
        # but only a few dozen pathological ones.  The budget is the most
        # the cache can save per full turnover, so ms is the natural unit.
        self._plan_cache: "OrderedDict[tuple, tuple[DataFrame, float]]" = (
            OrderedDict()
        )
        self._plan_cache_max = plan_cache_size
        import threading

        self._plan_cache_budget_ms = PLAN_CACHE_BUDGET_MS
        self._plan_cache_cost_ms = 0.0
        self._plan_cache_lock = threading.Lock()
        # plan-time probe memo (EvalContext.probe): collision bits, dim
        # row counts, msig-dup bits, le domains — keyed by probed-plan
        # semanticHash, shared across queries for the engine's lifetime
        self._probe_memo: dict = {}
        self._series_dim: Optional[DataFrame] = None
        self._dims_broadcastable = False
        self._dims_tiny = False
        self._sig_pairs_ok = False
        self._hist_samples = True
        self._series_count = 0
        self._avg_sig_bytes = 64.0
        self._name_stats: Optional[dict] = None

    def release_plans(self) -> None:
        """Drop every cached plan handle.

        Long-lived drivers (rules manager, query API) call this after a
        samples-frame swap or on memory pressure; the corpus runner calls
        it as each load-block's evals finish.  Dropping the Python
        DataFrame wrappers releases the analyzed Catalyst trees they pin
        on the JVM side (py4j detach on refcount zero).
        """
        with self._plan_cache_lock:
            self._plan_cache.clear()
            self._plan_cache_cost_ms = 0.0

    @property
    def series_dim(self) -> DataFrame:
        """(sig, labels, name) — one row per series, persisted for the
        engine's lifetime.  The split frame contract reads per-series
        labels from here; computing it once amortizes the dedup over
        every query instead of paying a per-sig aggregation of the
        sample scan per selector.  (At fleet scale the storage layer's
        series index plays this role; for ad-hoc frames one dedup pass
        per engine is the honest equivalent.)"""
        if self._series_dim is None:
            from pyspark import StorageLevel

            aggs = [F.first("labels").alias("labels")] + (
                [F.first("name").alias("name")]
                if "name" in self._samples.columns
                else []
            )
            # per-series KIND flags ride the same one-pass dedup (a real
            # TSDB's series index knows each series' sample type): rate
            # routing reads them from here instead of paying a per-query
            # full-scan kinds aggregation — flags are whole-frame, so a
            # "pure histogram" verdict is conservative under any time
            # filter (globally-pure ⊆ in-window-pure)
            if "hist" in self._samples.columns:
                # stale markers carry a float NaN — don't let them
                # demote a pure-histogram series to the mixed path
                live = ~F.col("stale") if "stale" in self._samples.columns else F.lit(True)
                aggs += [
                    F.max((live & F.col("hist").isNotNull()).cast("int")).alias("__has_h"),
                    F.max((live & F.col("value").isNotNull()).cast("int")).alias("__has_f"),
                ]
            self._series_dim = (
                self._samples.groupBy("sig")
                .agg(*aggs)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # one aggregate materializes the cache AND probes it: the
            # count sizes broadcast/tiny hints (see EvalContext.dim_hint)
            # and the separator scan decides sig-pair-filter eligibility
            # (labels.sig_subset_sql), and max(__has_h) tells whether any
            # series holds a histogram sample at all (split_kinds) — fused
            # into the same job so engine init still runs exactly one dim
            # pass
            has_h = "__has_h" in self._series_dim.columns
            row = self._series_dim.selectExpr(
                "count(*) AS n",
                "max(CAST(exists(map_entries(labels), e -> "
                "instr(e.key, '\\u001E') > 0 OR instr(e.key, '\\u001F') > 0 "
                "OR instr(e.value, '\\u001E') > 0 OR instr(e.value, '\\u001F') > 0"
                ") AS INT)) AS bad",
                "coalesce(CAST(avg(length(sig)) AS DOUBLE), 64.0D) AS alen",
                ("coalesce(max(__has_h), 0)" if has_h else "0") + " AS hh",
            ).head()
            n = row["n"]
            self._series_count = n
            self._avg_sig_bytes = float(row["alen"])
            self._sig_pairs_ok = (row["bad"] or 0) == 0
            self._hist_samples = row["hh"] == 1
            self._dims_broadcastable = n <= DIM_BC_MAX
            self._dims_tiny = n <= DIM_TINY_MAX
            # Per-metric-name stats {name: (series, avg_sig_len)} feed
            # selector cardinality estimates (VectorFrame.est_series →
            # EvalContext.sig_inline_ok).  Only collected when the dim
            # is small (distinct names ≤ dim rows ≤ tiny cap bounds the
            # driver collect); one extra aggregation over the PERSISTED
            # dim at engine init, amortized over every query.  Big
            # frames skip it — there the dim isn't broadcastable and
            # the inline-vs-join gate never consults the estimates.
            if self._dims_tiny and self._sig_pairs_ok:
                name_src = (
                    "name" if "name" in self._series_dim.columns
                    else "labels['__name__']"
                )
                self._name_stats = {
                    r["nm"]: (r["c"], float(r["al"]))
                    for r in self._series_dim.groupBy(
                        F.expr(f"coalesce({name_src}, '')").alias("nm")
                    )
                    .agg(
                        F.count(F.lit(1)).alias("c"),
                        F.avg(F.length("sig")).alias("al"),
                    )
                    .collect()
                }
        return self._series_dim

    def release_series_dim(self) -> None:
        """Unpersist the cached series dimension (engine teardown)."""
        if self._series_dim is not None:
            try:
                self._series_dim.unpersist(blocking=False)
            except Exception:
                pass
            self._series_dim = None
            self._name_stats = None

    @property
    def samples(self) -> DataFrame:
        return self._samples

    @samples.setter
    def samples(self, df: DataFrame) -> None:
        # Swapping the data under the engine (e.g. the admin delete-series
        # endpoint masking rows) invalidates every cached plan — they close
        # over the old DataFrame.
        self._samples = df
        self.release_plans()
        self.release_series_dim()
        self._probe_memo.clear()

    def _ctx(self, start_ms: int, end_ms: int, step_ms: int) -> EvalContext:
        return EvalContext(
            spark=self.spark,
            samples=self.samples,
            start_ms=start_ms,
            end_ms=end_ms,
            step_ms=step_ms,
            lookback_ms=self.lookback_ms,
            strict=self.strict,
            kahan=self.kahan,
            series_dim=self.series_dim,
            dims_broadcastable=self._dims_broadcastable,
            dims_tiny=self._dims_tiny,
            sig_pairs_ok=self._sig_pairs_ok,
            hist_samples=self._hist_samples,
            series_count=self._series_count,
            avg_sig_bytes=self._avg_sig_bytes,
            name_stats=self._name_stats,
            probe_memo=self._probe_memo,
        )

    def instant_query(self, query: str, time_ms: int) -> DataFrame:
        """→ DataFrame (sig, labels, t, value) at the single timestamp.

        A top-level range-vector expression (matrix selector or
        subquery) is legal in an instant query and yields a matrix of
        raw samples at their own timestamps (reference engine.go:714
        rangeEval on Matrix-typed expressions; the HTTP API renders
        resultType "matrix").  Range queries reject it, as the reference
        does.
        """
        from prometheus_spark.parser.ast import (
            MatrixSelector,
            ParenExpr,
            SubqueryExpr,
        )

        node = parse_expr(query)
        inner = node
        while isinstance(inner, ParenExpr):
            inner = inner.expr
        if isinstance(inner, (MatrixSelector, SubqueryExpr)):
            key = ("instant-matrix", query, time_ms)
            cached = self._plan_cache_get(key)
            if cached is not None:
                return cached
            import time as _time

            t0 = _time.monotonic()
            ctx = self._ctx(time_ms, time_ms, 1)
            w, dim, _rng, _mode = Evaluator(ctx)._matrix_arg(inner)
            hist_cols = ["hist"] if "hist" in w.columns else []
            fact = w.select(
                "sig", F.col("sample_t").alias("t"),
                F.col("sample_t").alias("sample_t"), "value",
                "drop_name", *hist_cols,
            )
            out = self._finalize_vf(VectorFrame(fact=fact, dim=dim))
            self._plan_cache_put(key, out, (_time.monotonic() - t0) * 1000.0)
            return out
        return self.range_query(query, time_ms, time_ms, 1)

    def _plan_cache_get(self, key: tuple) -> Optional[DataFrame]:
        hit = self._plan_cache.get(key)
        return hit[0] if hit is not None else None

    def _plan_cache_put(self, key: tuple, df: DataFrame, cost_ms: float) -> None:
        if self._plan_cache_max <= 0:
            return
        with self._plan_cache_lock:
            prev = self._plan_cache.pop(key, None)
            if prev is not None:
                self._plan_cache_cost_ms -= prev[1]
            self._plan_cache[key] = (df, cost_ms)
            self._plan_cache_cost_ms += cost_ms
            while self._plan_cache and (
                len(self._plan_cache) > self._plan_cache_max
                or self._plan_cache_cost_ms > self._plan_cache_budget_ms
            ):
                _, (_, c) = self._plan_cache.popitem(last=False)
                self._plan_cache_cost_ms -= c

    def range_query(self, query: str, start_ms: int, end_ms: int, step_ms: int) -> DataFrame:
        """→ DataFrame (sig, labels, t, value), sorted by (sig, t)."""
        key = ("range", query, start_ms, end_ms, step_ms)
        cached = self._plan_cache_get(key)
        if cached is not None:
            return cached
        # span names are the reference's stats timer operations
        # (util/stats/query_stats.go:61 SpanOperation); the Spark
        # analogue of "eval" is logical-plan construction
        from prometheus_spark.tracing import span

        import time as _time

        t0 = _time.monotonic()
        with span("promqlExec", query=query):
            with span("promqlPrepare"):
                node = parse_expr(query)
            ctx = self._ctx(start_ms, end_ms, step_ms)
            with span("promqlEval"):
                result = Evaluator(ctx).eval(node)
            if isinstance(result, ConstScalar):
                result = scalar_frame_from_const(ctx, result.value)
            if isinstance(result, ScalarFrame):
                empty = F.map_from_arrays(
                    F.array().cast("array<string>"), F.array().cast("array<string>")
                )
                out = result.df.select(
                    F.lit("").alias("sig"), empty.alias("labels"), "t", "value"
                )
                if ctx.num_steps <= SORT_ONE_MAX:
                    out = out.repartitionByRange(1, "t").sortWithinPartitions("t")
                else:
                    out = out.orderBy("t")
                self._plan_cache_put(key, out, (_time.monotonic() - t0) * 1000.0)
                return out
            if isinstance(result, StringValue):
                raise ValueError("string results are API-only; not a DataFrame")
            if isinstance(result, VectorFrame):
                with span("promqlSort"):
                    out = self._finalize_vf(result, num_steps=ctx.num_steps)
                self._plan_cache_put(key, out, (_time.monotonic() - t0) * 1000.0)
                return out
            raise TypeError(f"unexpected result {type(result).__name__}")

    def _ordered_out(self, out: DataFrame, dim, num_steps, dim_rows=None) -> DataFrame:
        small = False
        if num_steps is not None and num_steps > 0 and dim is not None:
            need = SORT_ONE_MAX // num_steps + 1
            if dim_rows is not None:
                # row count already known from the fused finalize probe
                small = dim_rows < need
            else:
                from prometheus_spark.engine.context import memo_probe

                try:
                    # bounded probe, memoized per dim shape: is the
                    # per-series dim smaller than the row budget allows?
                    # limit() bounds the rows RETURNED (an aggregation
                    # below it still runs once — acceptable because split
                    # producers derive dims from the persisted series
                    # dim, and the memo makes it once per engine).
                    small = memo_probe(
                        self._probe_memo,
                        dim,
                        ("rows<", need),
                        lambda d: d.limit(need).count() < need,
                    )
                except Exception:  # pragma: no cover — probe must never fail a query
                    small = False
        if small:
            return out.repartitionByRange(1, "sig", "t").sortWithinPartitions(
                "sig", "t"
            )
        return out.orderBy("sig", "t")

    def _finalize_vf(self, result: VectorFrame, num_steps=None) -> DataFrame:
        """Split-frame finalization: the delayed-name-removal relabel and
        its re-signature run on the per-series DIM (one row per series ×
        drop flag), not per output row; the fact joins the two candidate
        (sig, labels) forms back by sig and drop_name picks one."""
        if not result.is_split:
            return self._finalize(result.df)
        from prometheus_spark.model.labels import drop_metadata_sql, sig_sql

        fact, dim = result.fact, result.dim
        hist_cols = ["hist"] if "hist" in fact.columns else []
        guard_needed = False
        dim_rows = None
        if "drop_name" in fact.columns:
            dim2 = dim.selectExpr(
                "sig", "labels", drop_metadata_sql("labels") + " AS __l_nd"
            ).selectExpr(
                "sig", "labels", "__l_nd", sig_sql("__l_nd") + " AS __s_nd"
            )
            if self.strict:
                # Plan-time collision probe on the per-series dim:
                # post-name-drop duplicates can only arise when two
                # series' candidate output labelsets collide, which is
                # decidable from the (tiny) dim alone.  The reference's
                # check is an O(result) hash insert (engine.go:4283);
                # a window-count guard over the full result was our
                # equivalent but cost an output-sized exchange on
                # EVERY name-dropping query (~10% of the macro bench).
                # One dim pass here elides it whenever no labelsets can
                # collide — the overwhelmingly common case; colliding
                # dims keep the exact per-step guard.  The same pass
                # returns the dim row count, so the result-sort probe
                # (_ordered_out) runs NO extra job: one fused probe per
                # uncached name-dropping query, memoized per dim shape.
                from prometheus_spark.engine.context import memo_probe

                dim_rows, guard_needed = memo_probe(
                    self._probe_memo, dim2, "ndstats", _nd_stats
                )
            if self._dims_broadcastable:
                dim2 = F.broadcast(dim2)
            out = fact.join(dim2, "sig").selectExpr(
                "CASE WHEN drop_name THEN __s_nd ELSE sig END AS sig",
                "CASE WHEN drop_name THEN __l_nd ELSE labels END AS labels",
                "t",
                "value",
                *hist_cols,
            )
        else:
            # output sigs are the dim's sigs — deduped per series by
            # construction, so no labelset collision is possible
            if self._dims_broadcastable:
                dim = F.broadcast(dim)
            out = fact.join(dim, "sig").select(
                "sig", "labels", "t", "value", *hist_cols
            )
        if self.ordered:
            out = self._ordered_out(out, result.dim, num_steps, dim_rows=dim_rows)
        if self.strict and guard_needed:
            from prometheus_spark.engine.guards import check_unique_labelsets

            out = check_unique_labelsets(out)
        return out

    def _finalize(self, df: DataFrame) -> DataFrame:
        """Delayed name removal (reference: delayed __name__ dropping +
        engine.go:4283 duplicate check): strip the schema metadata labels
        from flagged rows, THEN run the duplicate-labelset check — the
        single place duplicates can legitimately appear (two series
        collapsing onto the same labelset once names are gone)."""
        from prometheus_spark.model.labels import drop_metadata_sql, sig_sql

        if "drop_name" in df.columns:
            labels = (
                f"CASE WHEN drop_name THEN {drop_metadata_sql('labels')} "
                "ELSE labels END"
            )
        else:
            labels = "labels"
        cols = [
            sig_sql(labels) + " AS sig",
            labels + " AS labels",
            "t",
            "value",
        ]
        if "hist" in df.columns:
            cols.append("hist")
        out = df.selectExpr(*cols)
        # Sort BEFORE the duplicate guard: RangePartitioning(sig, t)
        # satisfies the guard window's ClusteredDistribution(sig, t) and its
        # required sort order, so the window rides the sort's exchange
        # instead of adding its own hash exchange + re-sort (one fewer
        # shuffle stage on every query; ordering is preserved through the
        # window projection).
        if self.ordered:
            out = out.orderBy("sig", "t")
        if self.strict:
            from prometheus_spark.engine.guards import check_unique_labelsets

            out = check_unique_labelsets(out)
        return out
