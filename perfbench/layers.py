"""Per-layer accounting for the traced run.

Everything here sits outside the program: it installs the program's
own in-memory tracer provider and reads the spans the program already
emits, wraps module-level calls from the benchmark side, and counts
Spark jobs per operation with a job group and the status tracker.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager

from gen import ALERTS, RECORDING

PER_LAYER = (
    ("parser.parse_s", "s"),
    ("engine.plan_s", "s"),
    ("engine.eval_s", "s"),
    ("engine.exec_s", "s"),
    ("engine.spark_jobs_per_query", "count"),
    ("engine.spark_tasks_per_query", "count"),
    ("engine.open_s", "s"),
    ("web.render_s", "s"),
    ("streaming.rule_record_s", "s"),
    ("streaming.rule_alert_s", "s"),
    ("streaming.persisted_rdds_end", "count"),
    ("sources.decode_s", "s"),
    ("sources.spool_bytes_per_sample", "bytes"),
    ("storage.write_s", "s"),
    ("storage.bytes_per_sample", "bytes"),
)


def mean(xs) -> float:
    """Mean of the observations; 0.0 when the workload never calls into
    that layer."""
    return statistics.fmean(xs) if xs else 0.0


class Layers:
    """Collects per-layer observations.  With ``traced`` False every hook
    is a no-op apart from the timings the end-to-end metrics need."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.obs: dict = {name: [] for name, _unit in PER_LAYER}
        self._groups = itertools.count()
        self._lock = threading.Lock()
        self._render_local = threading.local()
        self._exporter = None
        self._manager = None
        self._restore = []
        self._op_unrendered_s = 0.0
        self._op_queries = 0
        self._setup_obs: dict = {}

    # -- set-up / tear-down ---------------------------------------------
    def install(self) -> None:
        if not self.traced:
            return
        from prometheus_spark import tracing
        from prometheus_spark.web import api

        self._exporter = tracing.InMemoryExporter()
        self._manager = tracing.Manager(exporter_factory=lambda _cfg: self._exporter)
        self._manager.apply_config({"endpoint": "in-memory", "sampling_fraction": 1.0})

        render = api.render_result

        def timed_render(rows, result_type):
            t0 = time.perf_counter()
            try:
                return render(rows, result_type)
            finally:
                self._render_local.s = (
                    getattr(self._render_local, "s", 0.0) + time.perf_counter() - t0
                )

        api.render_result = timed_render
        self._restore.append(lambda: setattr(api, "render_result", render))

    def uninstall(self) -> None:
        for undo in self._restore:
            undo()
        self._restore.clear()
        if self._manager is not None:
            self._manager.stop()

    def start_timed(self) -> None:
        """From here on observations describe the timed loop.  Set-up's
        (warm-up included) are kept only for layers the loop never calls,
        such as the store write."""
        if self._exporter is not None:
            self._manager.force_flush()
            self._exporter.spans.clear()
        self._setup_obs = self.obs
        self.obs = {name: [] for name, _unit in PER_LAYER}
        self._op_unrendered_s = 0.0
        self._op_queries = 0

    # -- per operation ----------------------------------------------------
    @contextmanager
    def operation(self, queries: int):
        """Wrap one client operation that runs ``queries`` PromQL queries.

        Yields a dict; on exit it holds ``wall`` (seconds).  In the traced
        run the Spark jobs and tasks the operation launched are counted
        through a job group, and the wall time not spent rendering is kept
        for ``engine.exec_s``."""
        rec = {}
        if not self.traced:
            t0 = time.perf_counter()
            yield rec
            rec["wall"] = time.perf_counter() - t0
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        sc.setJobGroup(group, group)
        self._render_local.s = 0.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        render_s = self._render_local.s
        with self._lock:
            self.obs["engine.spark_jobs_per_query"].append(len(jobs) / queries)
            self.obs["engine.spark_tasks_per_query"].append(tasks / queries)
            if render_s:
                self.obs["web.render_s"].append(render_s / queries)
            self._op_unrendered_s += rec["wall"] - render_s
            self._op_queries += queries

    def add(self, name: str, value: float) -> None:
        if self.traced:
            with self._lock:
                self.obs[name].append(value)

    # -- summary ----------------------------------------------------------
    def summary(self, persisted_rdds: int) -> dict:
        """-> {name: (value, unit)} for every per-layer metric."""
        spans = []
        if self._exporter is not None:
            self._manager.force_flush()
            spans = list(self._exporter.spans)

        def durations(pred):
            return [(s.end_ns - s.start_ns) / 1e9 for s in spans if pred(s)]

        plan = durations(lambda s: s.name == "promqlExec")
        self.obs["parser.parse_s"] = durations(lambda s: s.name == "promqlPrepare")
        self.obs["engine.plan_s"] = plan
        self.obs["engine.eval_s"] = durations(lambda s: s.name == "promqlEval")
        self.obs["streaming.rule_record_s"] = durations(
            lambda s: s.name == "rule" and s.attributes.get("name") in RECORDING)
        self.obs["streaming.rule_alert_s"] = durations(
            lambda s: s.name == "rule" and s.attributes.get("name") in ALERTS)
        if self._op_queries:
            # what the operations spent beyond planning and rendering,
            # per query
            self.obs["engine.exec_s"] = [
                (self._op_unrendered_s - sum(plan)) / self._op_queries
            ]
        self.obs["streaming.persisted_rdds_end"] = [persisted_rdds]
        return {
            name: (mean(self.obs[name] or self._setup_obs.get(name, [])), unit)
            for name, unit in PER_LAYER
        }
