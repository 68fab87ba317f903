"""Evaluation context: the step grid as a first-class DataFrame.

An instant query is a range query with one step (reference:
promql/engine.go:804-806) — every operator is keyed by ``(sig, t)`` where
``t`` iterates the step grid ``start, start+step, …, end``
(engine.go:1410 ``rangeEval``).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_spark.model.schema import DEFAULT_LOOKBACK_MS


# sig_inline_ok's byte budget: inline sig scans win while the scanned
# sig text stays under a fixed budget plus a per-series allowance
SIGPAIR_MAX_BYTES = 4_000_000
SIGPAIR_DIM_EQUIV_BYTES = 100


def memo_probe(memo: "dict | None", df: "DataFrame", tag, fn):
    """Run a plan-time probe ``fn(df)`` memoized on (analyzed-plan
    semanticHash, tag).  GIL-atomic dict ops suffice — a concurrent miss
    recomputes the same deterministic value; unkeyable plans (py4j
    surface drift) just run the probe; ``memo=None`` disables."""
    key = None
    if memo is not None:
        try:
            key = (df._jdf.queryExecution().analyzed().semanticHash(), tag)
        except Exception:  # pragma: no cover - py4j surface drift
            key = None
        if key is not None and key in memo:
            return memo[key]
    v = fn(df)
    if memo is not None and key is not None:
        if len(memo) > 4096:  # unbounded growth guard; refill is cheap
            memo.clear()
        memo[key] = v
    return v


@dataclass(frozen=True)
class EvalContext:
    spark: SparkSession
    samples: DataFrame  # canonical sample schema (see model.schema)
    start_ms: int
    end_ms: int
    step_ms: int  # > 0; instant queries use a 1-step grid
    lookback_ms: int = DEFAULT_LOOKBACK_MS
    strict: bool = True  # enforce duplicate-signature errors (extra pass)
    # Kahan-compensated sum/avg (reference: engine.go:3714).  Exact parity
    # with the golden corpus' extreme-magnitude cases, but runs as an array
    # fold over collect_list — off by default for scalability; the
    # promqltest runner switches it on.
    kahan: bool = False
    # Top-level query window for @ start()/end() resolution.  Subquery child
    # grids (with_grid) keep the original query's bounds (engine.go:4646
    # setOffsetForAtModifier adjusts offsets so @-times stay absolute).
    at_start_ms: int | None = None
    at_end_ms: int | None = None
    # Engine-lifetime series dimension (sig, labels[, name]) — one row
    # per series, persisted by the engine.  Selectors FILTER it instead
    # of re-aggregating per-sig labels out of the sample scan on every
    # query (that per-query derivation measurably regressed the macro
    # bench).  None ⇒ derive from the matched rows (contexts built
    # without an engine).
    series_dim: "DataFrame | None" = None
    # True when the engine measured the series dim as comfortably
    # broadcast-sized: operators then hint F.broadcast on dim-side
    # mapping joins, planning static BHJs instead of paying AQE's
    # shuffle-then-convert stage per tiny join.  False for huge series
    # sets (a forced broadcast of a 10M-series dim would pin the
    # driver) — those keep runtime-decided joins.
    dims_broadcastable: bool = False
    # True when the series dim is SMALL (engine-measured ≤ ~64k rows):
    # dim-side dedups/aggregations then run on ONE partition —
    # coalesce(1) satisfies the clustering requirement, so Catalyst
    # plans NO exchange and AQE has no shuffle stage to re-optimize.
    # Every elided dim exchange removes a scheduling round trip from
    # the per-query latency floor (instant queries are dominated by
    # stage round trips, not data).
    dims_tiny: bool = False
    # True when the engine probed the samples frame's label keys/values
    # as free of the sig separator bytes (\x1e/\x1f) — the precondition
    # for computing key-filtered signatures (group keys, match keys)
    # straight from the fact's canonical ``sig`` string instead of a
    # per-series map rebuild + mapping join (labels.sig_subset_sql).
    # False (contexts built without an engine, or a frame with
    # separator bytes in labels) keeps the dim-join path.
    sig_pairs_ok: bool = False
    # Engine-probed frame stats feeding the inline-vs-join cost choice
    # (sig_inline_ok): total series and mean canonical-sig width, plus
    # per-metric-name stats {name: (series, avg_sig_len)} when the dim
    # was small enough to collect them (selectors seed VectorFrame
    # estimates from these).
    series_count: int = 0
    avg_sig_bytes: float = 64.0
    name_stats: "dict | None" = None
    # Engine-owned memo for plan-time probe jobs (collision bits, msig-dup
    # bits, le domains), keyed by the probed frame's analyzed-plan
    # semanticHash — the same selector/dim shape recurring across queries
    # pays its probe job once per engine instead of once per query.
    # None (contexts built without an engine) disables memoization.
    probe_memo: "dict | None" = None
    # False when the engine measured the samples frame as holding no
    # native-histogram sample (the series dim's init job): float/histogram
    # routing (range_functions.split_kinds) then skips every histogram
    # branch.  True (contexts built without an engine) keeps them.
    hist_samples: bool = True

    def probe(self, df: "DataFrame", tag, fn):
        """Run a plan-time probe ``fn(df)`` memoized on (plan, tag).

        GIL-atomic dict ops are enough: a concurrent miss recomputes the
        same deterministic value.  Unkeyable plans (py4j surface drift)
        just run the probe."""
        return memo_probe(self.probe_memo, df, tag, fn)

    def sig_inline_ok(self, *vfs) -> bool:
        """Should key-filtered sigs compute INLINE per fact row (string
        pair-filter) instead of via a per-series dim mapping join?

        Inline removes the mapping join and its dim-side stages (wins on
        latency-bound shapes: instant queries, small facts) but pays a
        regex scan per fact row at Java-regex throughput (~50 MB/s of
        sig text per core) — measured to lose once the scanned text
        ``series × steps × sig_bytes`` grows past a few MB (bench
        storage: sum by over 1.1k-series histograms × 1000 steps ≈
        33 MB, inline 1.70 s vs join 0.98 s; the same shape at one step
        ≈ 33 kB, inline 0.22 s vs join 0.24 s).  When the dim is too
        big to broadcast the mapping join would shuffle the fact —
        strictly worse than any inline scan — so inline always wins
        there.  The join side is not free either: its dim stages pay an
        interpreted per-SERIES map rebuild plus the broadcast, so the
        comparison is  inline ≈ series × steps × sig_bytes × c_regex
        vs  join ≈ const_stages + series × c_dim.  Dividing by c_regex
        gives the byte-denominated rule below: inline while the scanned
        sig text stays under a fixed budget (≈ the join's stage
        round-trips, SIGPAIR_MAX_BYTES) plus a per-series allowance
        (≈ the join's per-series dim work, SIGPAIR_DIM_EQUIV_BYTES).
        The allowance term is what keeps huge-cardinality INSTANT
        queries inline — there fact rows == dim rows, so the join can
        never win — while multi-hundred-step range queries over the same series flip to the join
        (measured: 1.1k-series histogram sum × 1000 steps, inline
        1.70 s vs join 0.98 s; the same sum at one step, inline 0.22 s
        vs join 0.24 s; sf10 1:1 instant sum_by, inline 1.07 s vs join
        1.53 s).  Callers pass their input VectorFrames: a frame whose
        selector seeded a per-name estimate scores by its OWN matched
        series; unknown frames fall back to the whole-frame series
        total, an upper bound that is conservative toward the join
        path, which is never catastrophically wrong."""
        if not self.sig_pairs_ok:
            return False
        if not self.dims_broadcastable:
            return True
        if vfs:
            text = 0.0
            series = 0.0
            for vf in vfs:
                n = getattr(vf, "est_series", None)
                w = getattr(vf, "est_sig_bytes", None)
                n = n if n is not None else self.series_count
                series += n
                text += n * (w if w is not None else self.avg_sig_bytes)
        else:
            series = self.series_count
            text = series * self.avg_sig_bytes
        return (
            text * self.num_steps
            <= SIGPAIR_MAX_BYTES + series * SIGPAIR_DIM_EQUIV_BYTES
        )

    def dim_hint(self, df: "DataFrame") -> "DataFrame":
        from pyspark.sql import functions as F

        return F.broadcast(df) if self.dims_broadcastable else df

    def dim_dedup(self, df: "DataFrame", *keys: str) -> "DataFrame":
        """Per-series dedup of a dim-derived frame without an exchange
        when the dim is tiny (see ``dims_tiny``)."""
        if self.dims_tiny:
            df = df.coalesce(1)
        return df.dropDuplicates(list(keys) or ["sig"])

    @property
    def num_steps(self) -> int:
        return (self.end_ms - self.start_ms) // self.step_ms + 1

    @property
    def is_instant(self) -> bool:
        return self.num_steps == 1

    @cached_property
    def grid(self) -> DataFrame:
        """One row per step: (t LONG).  Tiny — always broadcast-joined."""
        return self.spark.range(0, self.num_steps).select(
            (F.lit(self.start_ms) + F.col("id") * F.lit(self.step_ms)).alias("t")
        )

    def with_grid(self, start_ms: int, end_ms: int, step_ms: int) -> "EvalContext":
        return replace(
            self,
            start_ms=start_ms,
            end_ms=end_ms,
            step_ms=step_ms,
            at_start_ms=self.at_start_ms if self.at_start_ms is not None else self.start_ms,
            at_end_ms=self.at_end_ms if self.at_end_ms is not None else self.end_ms,
        )

    def duration_vars(self) -> dict:
        """Query-context values (seconds) that duration expressions such
        as ``[step() * 2]`` resolve against."""
        start = self.at_start_ms if self.at_start_ms is not None else self.start_ms
        end = self.at_end_ms if self.at_end_ms is not None else self.end_ms
        return {
            "step": 0.0 if self.is_instant else self.step_ms / 1000.0,
            "range": (end - start) / 1000.0,
            "start": start / 1000.0,
            "end": end / 1000.0,
        }

    def resolve_at(self, at) -> int:
        """Resolve @ modifier sentinels (reference: ast.go:216-218).

        ``@ start()``/``@ end()`` always refer to the *top-level* query
        window, even inside subquery child grids."""
        from prometheus_spark.parser.ast import AT_END, AT_START

        if at == AT_START:
            return self.at_start_ms if self.at_start_ms is not None else self.start_ms
        if at == AT_END:
            return self.at_end_ms if self.at_end_ms is not None else self.end_ms
        return int(at)
