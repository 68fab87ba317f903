"""Rules engine — the reference's streaming layer (SURVEY §2.8).

Recording rules are periodically-materialized queries appended back to
storage (reference: rules/recording.go, rules/group.go:504 ``Group.Eval``);
alerting rules add a pending→firing state machine keyed by alert label
hash (rules/alerting.go:387) plus ``ALERTS``/``ALERTS_FOR_STATE`` series.
Series that vanish between consecutive evaluations get staleness markers
(rules/group.go:504 region, seriesInPreviousEval diff).

Spark-first: each trigger tick is one batch evaluation of the instant
query at an interval-aligned timestamp (rules/group.go:422
``EvalTimestamp``).  Recording-rule output NEVER lands on the driver —
``eval_tick`` returns a samples-schema DataFrame the caller appends to
storage, and the vanished-series diff is a distributed anti-join against
the previous tick's (cached) output signature frame.  Only *alert* state
is driver-side, whose cardinality is bounded by firing alerts (the
reference also materializes those in memory).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_spark.model.labels import sig_expr
from prometheus_spark.model.schema import METRIC_NAME_LABEL


@dataclass
class RecordingRule:
    record: str  # output metric name
    expr: str  # PromQL
    labels: dict[str, str] = field(default_factory=dict)


@dataclass
class AlertingRule:
    alert: str  # alert name
    expr: str  # PromQL; firing when the vector is non-empty
    for_ms: int = 0
    keep_firing_for_ms: int = 0
    labels: dict[str, str] = field(default_factory=dict)
    annotations: dict[str, str] = field(default_factory=dict)


@dataclass
class RuleGroup:
    name: str
    interval_ms: int
    rules: list = field(default_factory=list)
    # rulefmt.go:162: evaluate this group's queries this far in the past
    # so slow-to-arrive underlying data is complete; None falls back on
    # the global rule_query_offset (rules/group.go:693 QueryOffset)
    query_offset_ms: Optional[int] = None
    # rulefmt.go:163: a rule producing more series than this errors
    # (0 = unlimited; rules/group.go Limit())
    limit: int = 0
    # source rule file (rules/group.go File()) — pagination tokens and
    # the /api/v1/rules file[] filter key on it
    file: str = ""

    def eval_timestamp(self, ts_ms: int) -> int:
        """Align to the interval grid (rules/group.go:422)."""
        return ts_ms - (ts_ms % self.interval_ms)


def _with_rule_labels(result: DataFrame, name: str, extra: dict[str, str]) -> DataFrame:
    """Rewrite the result's label map: __name__ := rule output name, then
    overlay the rule's static labels — all columnar."""
    override = {METRIC_NAME_LABEL: name, **extra}
    keep = F.map_filter(
        F.col("labels"), lambda k, _: ~k.isin(*[F.lit(x) for x in override])
    )
    entries: list = []
    for k, v in override.items():
        entries += [F.lit(k), F.lit(v)]
    labels = F.map_concat(keep, F.create_map(*entries))
    return result.withColumn("labels", labels)


def _as_samples(df: DataFrame, ts: int) -> DataFrame:
    """Normalize a query result to the canonical samples layout.
    Histogram-valued results keep their ``hist`` struct — recording
    rules record native histograms like the reference
    (rules/recording.go Eval appends whatever the vector carries)."""
    from prometheus_spark.model.schema import HISTOGRAM_TYPE

    hist = (
        F.col("hist")
        if "hist" in df.columns
        else F.lit(None).cast(HISTOGRAM_TYPE)
    )
    cols = [
        sig_expr("labels").alias("sig"),
        F.element_at("labels", METRIC_NAME_LABEL).alias("name"),
        F.col("labels"),
        F.lit(ts).cast("long").alias("t"),
        F.col("value").cast("double").alias("value"),
        hist.alias("hist"),
        F.lit(False).alias("stale"),
    ]
    return df.select(*cols)


class RulesEngine:
    """Evaluates rule groups against a samples table.

    ``eval_tick`` returns ``(samples_df, alert_rows)``: the DataFrame is
    the distributed append payload (recording outputs + staleness markers
    + ALERTS series); ``alert_rows`` is the small driver-side alert-state
    snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        lookback_ms: int = 300_000,
        concurrent_eval: bool = False,
        max_concurrent: int = 4,
        concurrency_controller=None,
        default_rule_query_offset_ms: int = 0,
    ):
        """``concurrent_eval`` mirrors the reference feature flag
        ``concurrent_rule_eval`` (rules/manager.go:176-181): when on,
        independent rules in a group evaluate concurrently, bounded by
        ``max_concurrent`` (``--rules.max-concurrent-evals``, global
        across groups since the controller is per-engine).  Dependent
        rules stay in definition order; results are assembled in rule
        order, so output is identical to sequential evaluation."""
        from prometheus_spark.engine import PromQLEngine
        from prometheus_spark.streaming.rule_deps import (
            ConcurrentRuleEvalController,
            sequential_rule_eval_controller,
        )

        self.spark = spark
        self.engine = PromQLEngine(spark, samples, lookback_ms=lookback_ms)
        if concurrency_controller is not None:
            self.concurrency = concurrency_controller
        elif concurrent_eval:
            self.concurrency = ConcurrentRuleEvalController(max_concurrent)
        else:
            self.concurrency = sequential_rule_eval_controller()
        # batching is a pure function of the group's rule list — cache the
        # parse + dependency analysis across ticks
        self._batch_cache: dict = {}
        # global rule_query_offset default (config.go:496; per-group
        # query_offset overrides — rules/group.go:693)
        self.default_rule_query_offset_ms = default_rule_query_offset_ms
        # alert state per rule INSTANCE: "group/idx/alertname" ->
        # {sig -> state dict} — bounded by active-alert cardinality
        self._alert_state: dict[str, dict] = {}
        # previous tick's ALERTS/ALERTS_FOR_STATE label sets per rule,
        # for stale-marker emission on vanish
        self._prev_alert_series: dict[str, dict] = {}
        # the last two evals' persisted output frames per recording rule,
        # newest first — one row per output series, never collected.  The
        # newest feeds the next tick's vanished-series anti-join; the older
        # one stays persisted while the frame returned a tick ago (its
        # stale markers read it lazily) may still be consumed
        self._prev_series: dict[str, list[DataFrame]] = {}

    def drop_group_state(self, group_name: str) -> None:
        """Release everything keyed under a group (Manager.Update stops
        removed groups): unpersist previous-series frames, drop alert
        state, previous-alert series, and dependency batches."""
        prefix = f"{group_name}/"
        for key in [k for k in self._prev_series if k.startswith(prefix)]:
            for frame in self._prev_series.pop(key):
                try:
                    frame.unpersist()
                except Exception:  # noqa: BLE001 — already-stopped contexts
                    pass
        for m in (self._alert_state, self._prev_alert_series):
            for key in [k for k in m if k.startswith(prefix)]:
                del m[key]
        for key in [k for k in self._batch_cache if k[0] == group_name]:
            del self._batch_cache[key]

    # -- batch core ---------------------------------------------------------
    def eval_tick(
        self, group: RuleGroup, ts_ms: int, emit_alert_series: bool = True
    ) -> tuple[Optional[DataFrame], list]:
        """Evaluate all rules in the group at the aligned timestamp.

        Returns (samples_df, alert_rows):
        - samples_df: canonical samples frame (sig, name, labels, t,
          value, stale) with recording-rule outputs, ALERTS series, and
          staleness markers — or None when nothing was produced
        - alert_rows: (alertname, labels, annotations, state,
          active_since_ms, value)

        ``emit_alert_series=False`` suppresses the ALERTS /
        ALERTS_FOR_STATE output series (state still updates, alert_rows
        still returned) — the reference emits them only once the rule is
        restored (alerting.go:539 ``if r.restored.Load()``), so the
        pre-restore eval cannot overwrite the persisted activation time
        with a fresh one.  Recording-rule output is never suppressed.
        """
        # query_offset shifts both the query timestamp and the appended
        # sample timestamps into the past (recording.go:87 ts-offset,
        # group.go:623 stale markers at ts-offset)
        offset = (
            group.query_offset_ms
            if group.query_offset_ms is not None
            else self.default_rule_query_offset_ms
        )
        ts = group.eval_timestamp(ts_ms) - offset
        results = self._eval_rules(
            group, ts, offset_ms=offset, emit_alert_series=emit_alert_series
        )
        frames: list[DataFrame] = []
        alert_sample_rows: list = []
        alert_rows: list = []
        # assemble in rule-definition order regardless of completion order
        # so concurrent output is bit-identical to sequential
        for idx in range(len(group.rules)):
            kind, payload = results[idx]
            if kind == "rec":
                frames.append(payload)
            else:
                s, a = payload
                alert_sample_rows += s
                alert_rows += a
        if alert_sample_rows:
            from prometheus_spark.storage import samples_from_rows

            value_rows = [
                (labels, t, v) for labels, t, v, stale in alert_sample_rows if not stale
            ]
            stale_rows = [
                (labels, t) for labels, t, v, stale in alert_sample_rows if stale
            ]
            alerts_df = samples_from_rows(self.spark, value_rows, stale_rows)
            # align to the recording-rule layout (_as_samples): float-only,
            # no start-timestamp — ALERTS meta-series carry neither
            frames.append(
                alerts_df.select(
                    "sig", "name", "labels", "t", "value", "hist", "stale"
                )
            )
        if not frames:
            return None, alert_rows
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out, alert_rows

    def _group_batches(self, group: RuleGroup):
        """Dependency-ordered concurrency batches for the group, cached
        per (group name, rule list) — reference manager.go:556
        ``SplitGroupIntoBatches`` via the engine's controller.  Returns
        None for strictly-sequential evaluation."""
        key = (
            group.name,
            tuple(
                (type(r).__name__, getattr(r, "record", getattr(r, "alert", "")), r.expr)
                for r in group.rules
            ),
        )
        if key not in self._batch_cache:
            self._batch_cache[key] = self.concurrency.split_group_into_batches(
                group.rules
            )
        return self._batch_cache[key]

    def _eval_rules(
        self, group: RuleGroup, ts: int, offset_ms: int = 0,
        emit_alert_series: bool = True,
    ) -> dict:
        """Evaluate every rule in the group, honoring dependency order
        (reference rules/group.go:634 Eval + manager.go concurrency
        controller).  Independent batches fan out over a thread pool;
        each concurrent slot is gated by the controller's semaphore —
        when no slot is free the rule evaluates inline in the caller's
        thread, exactly like the reference's ``Allow`` try-acquire.

        Per-rule state maps (``_prev_series``, ``_alert_state``) are
        keyed per rule instance, so concurrent rules never share mutable
        state; Spark job submission is thread-safe."""

        def eval_one(idx: int):
            from prometheus_spark.tracing import span

            rule = group.rules[idx]
            name = rule.record if isinstance(rule, RecordingRule) else rule.alert
            # "rule" span with the rule's name attribute
            # (reference rules/group.go:515-516)
            with span("rule", name=name):
                if isinstance(rule, RecordingRule):
                    return "rec", self._eval_recording(group, rule, ts)
                return "alert", self._eval_alerting(
                    group, rule, ts, idx, active_ts=ts + offset_ms,
                    emit_series=emit_alert_series,
                )

        from prometheus_spark import pygc

        results: dict = {}
        batches = self._group_batches(group)
        if batches is None:
            for idx in range(len(group.rules)):
                results[idx] = eval_one(idx)
            # months-lived managers re-eval every interval; py4j handles
            # from finished evals are cycle-garbage (pygc docstring)
            pygc.tick(len(group.rules))
            return results

        from concurrent.futures import ThreadPoolExecutor

        for batch in batches:
            if len(batch) == 1:
                results[batch[0]] = eval_one(batch[0])
                continue
            futures: dict = {}
            inline: list[int] = []
            with ThreadPoolExecutor(max_workers=len(batch)) as pool:
                for idx in batch:
                    if self.concurrency.allow():

                        def run(i=idx):
                            try:
                                return eval_one(i)
                            finally:
                                self.concurrency.done()

                        # copy_context: pool threads don't inherit
                        # contextvars, which would orphan the tracing
                        # span parent (the reference passes ctx through)
                        import contextvars

                        futures[idx] = pool.submit(
                            contextvars.copy_context().run, run
                        )
                    else:
                        inline.append(idx)
                for idx in inline:
                    results[idx] = eval_one(idx)
                for idx, fut in futures.items():
                    results[idx] = fut.result()
        pygc.tick(len(group.rules))
        return results

    def _eval_recording(self, group: RuleGroup, rule: RecordingRule, ts: int) -> DataFrame:
        key = f"{group.name}/{rule.record}"
        q = self.engine.instant_query(rule.expr, ts)
        keep = ["labels", "value"] + (["hist"] if "hist" in q.columns else [])
        result = _with_rule_labels(q.select(*keep), rule.record, rule.labels)
        current = _as_samples(result, ts)
        # pin this tick's output so the next tick's anti-join (and the
        # caller's append) don't re-run the query
        current = current.persist()
        if group.limit and current.count() > group.limit:
            # recording.go:110 "exceeded limit": the rule eval fails, no
            # samples append; previous-series state stays so staleness
            # resolves when the rule recovers (group.go EvalFailures path)
            current.unpersist()
            return current.limit(0)
        gens = self._prev_series.setdefault(key, [])
        out = current
        if gens:
            # staleness markers for series that vanished since last tick:
            # distributed anti-join, no driver materialization
            prev = gens[0].select("sig", "name", "labels")
            vanished = prev.join(current.select("sig"), "sig", "left_anti")
            from prometheus_spark.model.schema import HISTOGRAM_TYPE

            stale = vanished.select(
                "sig",
                "name",
                "labels",
                F.lit(ts).cast("long").alias("t"),
                F.lit(None).cast("double").alias("value"),
                F.lit(None).cast(HISTOGRAM_TYPE).alias("hist"),
                F.lit(True).alias("stale"),
            )
            out = current.unionByName(stale)
        # two generations: the frame returned last tick still reads the
        # one before it lazily, so only the third-newest is released
        gens.insert(0, current)
        for frame in gens[2:]:
            frame.unpersist()
        del gens[2:]
        return out

    def _eval_alerting(
        self, group: RuleGroup, rule: AlertingRule, ts: int, rule_idx: int = 0,
        active_ts: int | None = None, emit_series: bool = True,
    ):
        """Mirror of AlertingRule.Eval (rules/alerting.go:387-550):
        pending→firing via the ``for`` hold, keep_firing_for flap
        suppression keyed from the first missing eval, templated
        labels/annotations, and the ALERTS / ALERTS_FOR_STATE output
        series with stale markers for series that stopped being emitted.
        """
        from prometheus_spark.model.labels import sig_for
        from prometheus_spark.streaming.templating import expand_template

        # Two clocks (alerting.go:387 Eval): the QUERY and the output
        # samples run at ``ts`` = evalTime - queryOffset, but the
        # activation bookkeeping (ActiveAt, the `for` hold, and
        # keep_firing_since) uses the UNSHIFTED eval timestamp — the
        # reference stamps ActiveAt: ts (:459) while sampling at
        # ts.Add(-queryOffset) (:540), and RestoreForState mixes the two
        # domains deliberately.
        if active_ts is None:
            active_ts = ts

        # alert-rule results are bounded by firing cardinality — the one
        # place a driver collect is the right call (mirrors the reference
        # keeping active alerts in memory, rules/alerting.go:387)
        result = self.engine.instant_query(rule.expr, ts).collect()
        if group.limit and len(result) > group.limit:
            # alerting.go:528 "exceeded limit of %d with %d alerts" —
            # the eval errors; alert state is left untouched
            return [], []

        def query_fn(expr: str):
            """template.go QueryFunc — instant query at the eval ts,
            rows as (labels, value) for the {{ query ... }} pipeline."""
            return [
                (dict(row["labels"]), row["value"])
                for row in self.engine.instant_query(expr, ts).collect()
                if row["value"] is not None
            ]

        resolved_now: dict[str, dict] = {}
        values: dict[str, float] = {}
        annots: dict[str, dict] = {}
        for r in result:
            series_labels = dict(r["labels"])
            v = r["value"] if r["value"] is not None else float("nan")
            labels = dict(series_labels)
            labels.pop(METRIC_NAME_LABEL, None)
            # rule labels are templates expanded per series
            # (alerting.go:437-440)
            for k, tmpl in rule.labels.items():
                labels[k] = expand_template(
                    tmpl, series_labels, v,
                    query_fn=query_fn, now_seconds=ts / 1000.0,
                )
            labels["alertname"] = rule.alert
            sig = sig_for(labels)
            resolved_now[sig] = labels
            values[sig] = v
            annots[sig] = {
                k: expand_template(
                    tmpl, series_labels, v,
                    query_fn=query_fn, now_seconds=ts / 1000.0,
                )
                for k, tmpl in rule.annotations.items()
            }

        # state is keyed per RULE INSTANCE, not per alertname: the reference
        # allows several alerting rules sharing one name (across groups or
        # within one), each with independent active-alert maps
        # (rules/alerting.go AlertingRule.active) — keying by name would let
        # one rule's eval resolve the other's alerts.
        rule_key = f"{group.name}/{rule_idx}/{rule.alert}"
        rule_state = self._alert_state.setdefault(rule_key, {})
        # create / refresh (alerting.go:469-479)
        for sig, labels in resolved_now.items():
            st = rule_state.get(sig)
            if st is None or st["state"] == "inactive":
                rule_state[sig] = {
                    "labels": labels,
                    "active_since": active_ts,
                    "state": "pending",
                    "keep_firing_since": None,
                    "value": values[sig],
                    "annotations": annots[sig],
                }
            else:
                st["value"] = values[sig]
                st["annotations"] = annots[sig]
                st["keep_firing_since"] = None

        samples: list = []
        alerts: list = []
        for sig in list(rule_state):
            st = rule_state[sig]
            if sig not in resolved_now:
                keep_firing = False
                if st["state"] == "firing" and rule.keep_firing_for_ms > 0:
                    if st["keep_firing_since"] is None:
                        st["keep_firing_since"] = active_ts
                    if active_ts - st["keep_firing_since"] < rule.keep_firing_for_ms:
                        keep_firing = True
                if not keep_firing:
                    # pending alerts drop immediately; firing alerts
                    # resolve (alerting.go:506-516); either way the
                    # output series stop — stale markers below.  A
                    # firing alert emits one final "resolved" tuple so
                    # the notifier can send EndsAt=now
                    # (manager.go:485-489 SendAlerts).
                    if st["state"] == "firing":
                        alerts.append(
                            (rule.alert, st["labels"], st["annotations"],
                             "resolved", st["active_since"], st["value"])
                        )
                    del rule_state[sig]
                    continue
            if (st["state"] == "pending"
                    and active_ts - st["active_since"] >= rule.for_ms):
                st["state"] = "firing"
            alabels = dict(st["labels"])
            alabels[METRIC_NAME_LABEL] = "ALERTS"
            alabels["alertstate"] = st["state"]
            samples.append((alabels, ts, 1.0, False))
            # ALERTS_FOR_STATE carries the activation time in seconds
            # (alerting.go:540 forStateSample)
            flabels = dict(st["labels"])
            flabels[METRIC_NAME_LABEL] = "ALERTS_FOR_STATE"
            samples.append((flabels, ts, st["active_since"] / 1000.0, False))
            alerts.append(
                (rule.alert, st["labels"], st["annotations"], st["state"],
                 st["active_since"], st["value"])
            )

        if not emit_series:
            # pre-restore eval: state updated, no series output and no
            # stale-marker bookkeeping (the reference's empty vector
            # leaves seriesInPreviousEval untouched)
            return [], alerts

        # stale markers for output series emitted last tick but not now
        # (state transitions change the alertstate label → the old series
        # vanishes; rules/group.go seriesInPreviousEval diff)
        emitted = {sig_for(lbls) for lbls, _, _, _ in samples}
        prev = self._prev_alert_series.get(rule_key, {})
        for psig, plabels in prev.items():
            if psig not in emitted:
                samples.append((plabels, ts, None, True))
        self._prev_alert_series[rule_key] = {
            sig_for(lbls): lbls for lbls, _, _, stale in samples if not stale
        }
        return samples, alerts

    def restore_for_state(
        self,
        group: RuleGroup,
        ts_ms: int,
        outage_tolerance_ms: int = 3_600_000,
        for_grace_period_ms: int = 600_000,
    ) -> int:
        """Restore each active alert's activation time from the last
        ``ALERTS_FOR_STATE`` sample — mirror of rules/group.go:739
        RestoreForState.  Call once after the FIRST ``eval_tick`` that
        follows a restart (the reference's ``shouldRestore`` flow,
        rules/group.go:274): the first eval re-arms matching alerts as
        fresh ``pending``; this pulls their ``active_since`` back to the
        persisted activation so they fire at the original deadline.

        Default tolerances match the reference flags
        ``rules.alert.for-outage-tolerance`` (1h) and
        ``for-grace-period`` (10m).  Returns the number of alerts whose
        activation time was restored.

        Scale shape: one filtered scan of the samples table over the
        ``[ts - outage_tolerance, ts]`` window for the whole group
        (predicate on the indexed ``name`` column pushes down to the
        parquet scan); the collect is bounded by stored-alert
        cardinality, the same driver-side footprint as the active-alert
        maps themselves."""
        from prometheus_spark.model.labels import sig_for

        mint = ts_ms - outage_tolerance_ms
        alert_rules = [
            (idx, r)
            for idx, r in enumerate(group.rules)
            if isinstance(r, AlertingRule) and r.for_ms > 0
        ]
        restorable = [
            (idx, r) for idx, r in alert_rules if r.for_ms >= for_grace_period_ms
        ]
        if not restorable:
            return 0
        names = {r.alert for _, r in restorable}
        # one scan for the whole group: last non-stale FOR_STATE sample
        # per series within the outage-tolerance window
        from pyspark.sql import Window

        w = Window.partitionBy("sig").orderBy(F.desc("t"))
        fs = (
            self.engine.samples.filter(
                (F.col("name") == "ALERTS_FOR_STATE")
                & (F.col("t") >= F.lit(mint))
                & (F.col("t") <= F.lit(ts_ms))
                & F.col("labels")["alertname"].isin(list(names))
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & ~F.col("stale") & F.col("value").isNotNull())
            .select("sig", "t", "value")
            .collect()
        )
        by_sig = {r["sig"]: (r["t"], r["value"]) for r in fs}
        restored = 0
        for idx, rule in restorable:
            rule_key = f"{group.name}/{idx}/{rule.alert}"
            for st in self._alert_state.get(rule_key, {}).values():
                flabels = dict(st["labels"])
                flabels[METRIC_NAME_LABEL] = "ALERTS_FOR_STATE"
                hit = by_sig.get(sig_for(flabels))
                if hit is None:
                    continue
                down_at, stored_active_s = hit
                restored_active = int(stored_active_s * 1000)
                spent_pending = down_at - restored_active
                remaining = rule.for_ms - spent_pending
                if remaining <= 0:
                    # was already firing when the engine went down; the
                    # next eval flips it back to firing naturally
                    # (group.go:833-836)
                    pass
                elif remaining < for_grace_period_ms:
                    # fire ForGracePeriod from now (group.go:837-849)
                    restored_active = ts_ms + for_grace_period_ms - rule.for_ms
                else:
                    # shift forward by the downtime so the remaining
                    # pending time is preserved (group.go:850-856)
                    restored_active = restored_active + (ts_ms - down_at)
                st["active_since"] = restored_active
                restored += 1
        return restored

    # -- streaming wiring -----------------------------------------------------
    def stream(
        self,
        group: RuleGroup,
        append_fn,
        trigger_seconds: Optional[float] = None,
        now_fn=None,
        restore: bool = False,
    ):
        """Run the group on a Structured Streaming trigger.  Each trigger
        tick calls ``eval_tick(now)`` and hands the produced frame to
        ``append_fn(samples_df, alert_rows)`` — the caller's sink (e.g.
        ``df.write.mode("append")`` into the samples store, remote-write,
        notify).  The frame is appended distributedly; nothing crosses
        the driver except alert state.

        The rate source is a 1-row-per-trigger clock; the rules engine
        evaluates against the (continuously updated) samples table like
        the reference's rule manager ticks against TSDB."""
        import time

        now_fn = now_fn or (lambda: int(time.time() * 1000))
        clock = (
            self.spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )

        should_restore = [restore]

        def on_tick(batch_df, batch_id):
            now = now_fn()
            samples_df, alert_rows = self.eval_tick(group, now)
            # the reference restores 'for' state right after the FIRST
            # eval of a restarted group (rules/group.go:272-275)
            if should_restore[0]:
                should_restore[0] = False
                self.restore_for_state(group, now)
            append_fn(samples_df, alert_rows)

        writer = clock.writeStream.foreachBatch(on_tick).outputMode("append")
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


class RulesManager:
    """Multi-group scheduler — the reference's rules Manager
    (rules/manager.go:95 ``Manager``, ``Run``/``Update``/``Stop``):

    - each group evaluates on its OWN interval, with a hash-staggered
      evaluation timestamp (rules/group.go:422 ``EvalTimestamp``: the
      group-name hash offsets the interval grid so a thousand groups
      don't all fire on the same second);
    - ``update()`` diffs the group set by name like ``Manager.Update``:
      unchanged groups keep their state (alert maps / previous-series
      frames live in the engine keyed per group+rule, so state transfer
      is free), removed groups stop, new groups start on the next tick;
    - concurrency comes from the ENGINE's controller, global across
      groups (manager.go:550 "Concurrency is controlled globally, not
      on a per-group basis").

    Driver-side scheduling only — every evaluation remains a
    distributed Spark job."""

    def __init__(self, engine: RulesEngine, append_fn, now_fn=None, restore=False):
        import time as _time

        self.engine = engine
        self.append_fn = append_fn
        self.now_fn = now_fn or (lambda: int(_time.time() * 1000))
        # restore=True replays each group's persisted ALERTS_FOR_STATE
        # after its FIRST eval post-restart (rules/group.go:272
        # shouldRestore), pulling active_since back to the stored
        # activation time
        self.restore = restore
        self._restored: set[str] = set()
        self._groups: dict[str, RuleGroup] = {}
        self._next_due: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None
        # observability mirrors of the reference group metrics
        # (rule_group_iterations_missed_total, rule_evaluation_failures)
        self.iterations_missed = 0
        self.eval_failures: dict[str, int] = {}
        self.last_error: dict[str, Exception] = {}
        # bound on concurrently-evaluating groups (goroutines are free,
        # Python threads are not)
        self.max_group_concurrency = 16

    @staticmethod
    def _group_offset_ms(group: RuleGroup) -> int:
        """Deterministic per-group stagger inside its interval
        (group.go:312 hash over {name, file} — we key on name)."""
        import zlib

        return zlib.crc32(group.name.encode()) % max(group.interval_ms, 1)

    def eval_timestamp(self, group: RuleGroup, now_ms: int) -> int:
        """group.go:422 EvalTimestamp: align to the interval grid, then
        shift by the group's offset, never landing in the future."""
        offset = self._group_offset_ms(group)
        adj = now_ms - offset
        return adj - (adj % group.interval_ms) + offset

    def update(self, groups: list) -> None:
        """Manager.Update semantics: swap the group set; by-name diff
        decides what starts/stops; shared engine state keyed by group
        name carries over for survivors.  Removed groups release their
        engine state (persisted previous-series frames, alert maps,
        batch cache) — otherwise a server with churning rule files
        pins cached DataFrames forever."""
        new = {g.name: g for g in groups}
        for name in list(self._next_due):
            if name not in new:
                del self._next_due[name]
                self.engine.drop_group_state(name)
        self._groups = new

    def tick(self, now_ms: Optional[int] = None) -> int:
        """Evaluate every group whose deadline passed; returns the
        number of groups evaluated.  Exposed for tests/notebooks —
        ``start()`` drives it on a thread.

        Due groups evaluate CONCURRENTLY (the reference runs one
        goroutine per group, manager.go:236 ``Run``); group state in the
        engine is keyed per group/rule so evals are disjoint, and
        rule-level concurrency inside each group stays bounded by the
        engine's global controller.  Appends happen in group-name order
        for deterministic downstream writes."""
        now_ms = self.now_fn() if now_ms is None else now_ms
        due_groups: list[tuple[str, RuleGroup, int]] = []
        for name, group in list(self._groups.items()):
            due = self._next_due.get(name)
            if due is None:
                # first sighting: evaluate at the next aligned slot
                self._next_due[name] = (
                    self.eval_timestamp(group, now_ms) + group.interval_ms
                )
                continue
            if now_ms >= due:
                due_groups.append((name, group, due))
        if not due_groups:
            return 0

        def one(group, due):
            # per-group error containment (group.go Eval: a failing rule
            # bumps EvalFailures and the group keeps running) — one bad
            # group must never kill the scheduler or the other groups
            import time as _time

            _t0 = _time.monotonic()
            try:
                # before the group's first successful restore, alert
                # output series are suppressed (alerting.go:539 gates on
                # r.restored) so a fresh activation can never overwrite
                # the persisted ALERTS_FOR_STATE value
                emit = not (self.restore and group.name not in self._restored)
                out = self.engine.eval_tick(group, due, emit_alert_series=emit)
            except Exception as e:  # noqa: BLE001
                return "err", e
            if self.restore and group.name not in self._restored:
                # restore 'for' state right after the group's first eval
                # (rules/group.go:272-275); a restore failure must not
                # discard the successful eval's output, and retries on
                # the next tick (marked restored only on success)
                try:
                    self.engine.restore_for_state(group, due)
                    self._restored.add(group.name)
                except Exception as e:  # noqa: BLE001
                    self.last_error[group.name] = e
            # rules/group.go NewGroupMetrics: last duration + timestamp
            from prometheus_spark.web.selfmetrics import REGISTRY

            REGISTRY.gauge_set(
                "prometheus_rule_group_last_duration_seconds",
                _time.monotonic() - _t0,
                help_="The duration of the last rule group evaluation.",
                rule_group=group.name,
            )
            REGISTRY.gauge_set(
                "prometheus_rule_group_last_evaluation_timestamp_seconds",
                due / 1000.0,
                help_="The timestamp of the last rule group evaluation.",
                rule_group=group.name,
            )
            return "ok", out

        if len(due_groups) == 1:
            name, group, due = due_groups[0]
            results = {name: one(group, due)}
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(len(due_groups), self.max_group_concurrency)
            ) as pool:
                futs = {
                    name: pool.submit(one, group, due)
                    for name, group, due in due_groups
                }
                results = {name: fut.result() for name, fut in futs.items()}
        from prometheus_spark.web.selfmetrics import REGISTRY

        for name, group, due in sorted(due_groups):
            REGISTRY.counter_add(
                "prometheus_rule_group_iterations_total",
                help_="The total number of scheduled rule group evaluations.",
                rule_group=name,
            )
            REGISTRY.gauge_set(
                "prometheus_rule_group_rules", len(group.rules),
                help_="The number of rules.", rule_group=name,
            )
            status, payload = results[name]
            if status == "ok":
                samples_df, alerts = payload
                try:
                    self.append_fn(samples_df, alerts)
                except Exception as e:  # noqa: BLE001
                    self.eval_failures[name] = (
                        self.eval_failures.get(name, 0) + 1
                    )
                    self.last_error[name] = e
            else:
                self.eval_failures[name] = self.eval_failures.get(name, 0) + 1
                self.last_error[name] = payload
                REGISTRY.counter_add(
                    "prometheus_rule_evaluation_failures_total",
                    help_="The total number of rule evaluation failures.",
                    rule_group=name,
                )
            # advance PAST any intervals missed while stalled — the
            # reference skips missed iterations rather than replaying
            # them at stale timestamps (group.go run: iterationsMissed)
            behind = max(0, (now_ms - due) // group.interval_ms)
            if behind:
                REGISTRY.counter_add(
                    "prometheus_rule_group_iterations_missed_total", behind,
                    help_="The total number of rule group evaluations missed "
                          "due to slow rule group evaluation.",
                    rule_group=name,
                )
            self.iterations_missed += behind
            self._next_due[name] = due + (behind + 1) * group.interval_ms
        return len(due_groups)

    def start(self, poll_s: float = 0.5) -> threading.Thread:
        def loop():
            while not self._stop.is_set():
                try:
                    self.tick()
                except Exception as e:  # noqa: BLE001 — the scheduler
                    # thread must never die; per-group errors are already
                    # contained, this guards scheduling itself
                    self.last_error["__scheduler__"] = e
                self._stop.wait(poll_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self._thread

    def stop(self) -> None:
        self._stop.set()
