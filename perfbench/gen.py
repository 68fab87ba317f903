"""Seeded inputs and their closed-form answers.

Pure Python, no Spark: the workloads turn these specs into samples, and
the checkers compare the program's answers with the closed forms here.
Every counter grows by a constant amount per scrape and restarts from
that amount after a reset, so each ``rate(x[5m])`` equals the series'
per-second rate exactly (Prometheus' extrapolation reaches both window
edges because the first/last samples sit less than one scrape inside
them, and the zero-point cap never bites).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SCRAPE_MS = 15_000
RANGE_MS = 300_000  # the [5m] of every rate() below, and the lookback
# a whole number of hours, so store partitions start on bucket edges
BASE_MS = 1_699_999_200_000

BUCKETS = (0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, float("inf"))
QUANTILE = 0.9
TOPK = 5


@dataclass(frozen=True)
class Series:
    """One stored series.

    ``kind`` is ``counter`` or ``gauge``.  A counter's sample ``k`` is
    ``inc * (1 + (k + phase) % period)``; a gauge's is ``high`` while
    ``(k + phase) % period < high_len`` and ``low`` otherwise.  Sample
    ``k`` sits at ``BASE_MS + k * SCRAPE_MS + offset_ms``.
    """

    labels: tuple  # sorted (name, value) pairs, __name__ included
    kind: str
    rate: float  # per second (counters); 0 for gauges
    period: int
    phase: int
    offset_ms: int
    high: float = 0.0
    low: float = 0.0
    high_len: int = 0

    @property
    def name(self) -> str:
        return dict(self.labels)["__name__"]

    @property
    def inc(self) -> float:
        return self.rate * SCRAPE_MS / 1000.0

    def value_at(self, k: int) -> float:
        j = (k + self.phase) % self.period
        if self.kind == "counter":
            return self.inc * (1 + j)
        return self.high if j < self.high_len else self.low

    def latest_index(self, t_ms: int) -> int:
        """Index of the newest sample at or before ``t_ms``."""
        return (t_ms - BASE_MS - self.offset_ms) // SCRAPE_MS


def _labels(**kv) -> tuple:
    return tuple(sorted(kv.items()))


def _distinct_rates(rng: random.Random, n: int, unit: float) -> list[float]:
    """``n`` distinct rates at least ``unit`` apart, so ranking by rate
    never depends on rounding."""
    return [unit * k for k in rng.sample(range(1, 20 * n), n)]


def _counter(rng, labels, rate, period_range=(30, 90)) -> Series:
    return Series(
        labels=labels,
        kind="counter",
        rate=rate,
        period=rng.randrange(*period_range),
        phase=rng.randrange(1000),
        offset_ms=rng.randrange(0, SCRAPE_MS, 250),
    )


METHODS = ("GET", "POST")
ERROR_CODES = ("500", "503")


@dataclass
class Fleet:
    """The series of one store and its job names."""

    series: list
    jobs: list

    def by_name(self, name: str) -> list:
        return [s for s in self.series if s.name == name]


def http_fleet(seed: int, jobs: int, instances: int, histograms: bool,
               queues: bool) -> Fleet:
    """Request/error counters per (job, instance), optional latency
    bucket counters and queue-depth gauges.

    Each job's error share is drawn from values far from the 0.05 alert
    threshold, so the error-ratio alert's firing set is decided by the
    seed, never by rounding.
    """
    rng = random.Random(seed)
    job_names = [f"job{j}" for j in range(jobs)]
    series: list[Series] = []
    targets = [(j, f"{j}-{i}") for j in job_names for i in range(instances)]
    req_rates = _distinct_rates(rng, 2 * len(targets), 0.05)
    share = {j: rng.choice((0.01, 0.02, 0.1, 0.2)) for j in job_names}
    for n, (j, i) in enumerate(targets):
        for m, method in enumerate(METHODS):
            series.append(_counter(
                rng, _labels(__name__="http_requests_total", job=j, instance=i,
                             method=method),
                req_rates[2 * n + m],
            ))
        total = req_rates[2 * n] + req_rates[2 * n + 1]
        # the two codes split the job's error share unevenly
        split = rng.uniform(0.2, 0.8)
        for code, part in zip(ERROR_CODES, (split, 1.0 - split)):
            series.append(_counter(
                rng, _labels(__name__="http_errors_total", job=j, instance=i,
                             code=code),
                total * share[j] * part,
            ))
        if histograms:
            r = rng.uniform(1.0, 10.0)
            cum = sorted(rng.uniform(0.02, 0.98) for _ in BUCKETS[:-1])
            for le, frac in zip(BUCKETS, cum + [1.0]):
                series.append(_counter(
                    rng, _labels(__name__="http_request_duration_seconds_bucket",
                                 job=j, instance=i, le=le_str(le)),
                    r * frac,
                ))
        if queues:
            series.append(Series(
                labels=_labels(__name__="queue_depth", job=j, instance=i),
                kind="gauge", rate=0.0,
                period=rng.randrange(24, 48), phase=rng.randrange(1000),
                offset_ms=rng.randrange(0, SCRAPE_MS, 250),
                high=float(rng.randrange(150, 300)),
                low=float(rng.randrange(0, 80)),
                high_len=rng.randrange(4, 16),
            ))
    return Fleet(series=series, jobs=job_names)


def le_str(le: float) -> str:
    return "+Inf" if le == float("inf") else repr(le)


def drop_name(labels: tuple) -> tuple:
    return tuple(kv for kv in labels if kv[0] != "__name__")


def keep(labels: tuple, names) -> tuple:
    return tuple(kv for kv in labels if kv[0] in names)


# -- closed forms ---------------------------------------------------------


def sum_rate_by(fleet: Fleet, name: str, by) -> dict:
    out: dict = {}
    for s in fleet.by_name(name):
        key = keep(s.labels, by)
        out[key] = out.get(key, 0.0) + s.rate
    return out


def bucket_quantile(q: float, buckets: list) -> float:
    """Classic-histogram quantile of (upper_bound, cumulative_count)
    pairs, interpolating linearly inside the bucket that holds the rank
    (Prometheus promql/quantile.go bucketQuantile)."""
    buckets = sorted(buckets)
    if buckets[-1][0] != float("inf") or len(buckets) < 2:
        return float("nan")
    total = buckets[-1][1]
    if total == 0:
        return float("nan")
    rank = q * total
    last = len(buckets) - 1
    b = next((i for i in range(last) if buckets[i][1] >= rank), last)
    if b == last:
        return buckets[-2][0]
    if b == 0 and buckets[0][0] <= 0:
        return buckets[0][0]
    start, count = 0.0, buckets[b][1]
    if b > 0:
        start = buckets[b - 1][0]
        count -= buckets[b - 1][1]
        rank -= buckets[b - 1][1]
    return start + (buckets[b][0] - start) * (rank / count)


PANELS = {
    "rate_by_job": 'sum by (job) (rate(http_requests_total[5m]))',
    "error_ratio": (
        'sum by (job, instance, code) (rate(http_errors_total[5m]))'
        ' / on (job, instance) group_left'
        ' sum by (job, instance) (rate(http_requests_total[5m]))'
    ),
    "latency_p90": (
        f'histogram_quantile({QUANTILE}, sum by (job, le)'
        ' (rate(http_request_duration_seconds_bucket[5m])))'
    ),
    "topk_series": f'topk({TOPK}, rate(http_requests_total[5m]))',
}


def panel_expectations(fleet: Fleet) -> dict:
    """panel -> {label tuple without __name__: value at every step}."""
    req = sum_rate_by(fleet, "http_requests_total", ("job", "instance"))
    ratio = {
        keep(s.labels, ("job", "instance", "code")):
            s.rate / req[keep(s.labels, ("job", "instance"))]
        for s in fleet.by_name("http_errors_total")
    }
    per_job_le = sum_rate_by(
        fleet, "http_request_duration_seconds_bucket", ("job", "le"))
    p90 = {}
    for job in fleet.jobs:
        pairs = [(float(le), v) for ((_, j), (_, le)), v in per_job_le.items()
                 if j == job]
        p90[(("job", job),)] = bucket_quantile(QUANTILE, pairs)
    reqs = fleet.by_name("http_requests_total")
    top = sorted(reqs, key=lambda s: s.rate, reverse=True)[:TOPK]
    return {
        "rate_by_job": sum_rate_by(fleet, "http_requests_total", ("job",)),
        "error_ratio": ratio,
        "latency_p90": p90,
        "topk_series": {drop_name(s.labels): s.rate for s in top},
    }


# -- rules ----------------------------------------------------------------

RECORDING = {
    "job:http_requests:rate5m": "sum by (job) (rate(http_requests_total[5m]))",
    "job_instance:http_errors:ratio_rate5m": (
        "sum by (job, instance) (rate(http_errors_total[5m]))"
        " / sum by (job, instance) (rate(http_requests_total[5m]))"
    ),
    "job:queue_depth:max": "max by (job) (queue_depth)",
}
ERROR_RATIO_THRESHOLD = 0.05
ALERTS = {
    # name: (expr, for_ms)
    "HighErrorRatio": (
        "sum by (job) (rate(http_errors_total[5m]))"
        " / sum by (job) (rate(http_requests_total[5m]))"
        f" > {ERROR_RATIO_THRESHOLD}",
        120_000,
    ),
    "QueueBacklog": ("queue_depth > 100", 60_000),
}
RULE_INTERVAL_MS = SCRAPE_MS


def queue_value(s: Series, ts: int) -> float:
    return s.value_at(s.latest_index(ts))


def recording_expectations(fleet: Fleet, ts: int) -> dict:
    """record name -> {label tuple without __name__: value} at ``ts``."""
    req = sum_rate_by(fleet, "http_requests_total", ("job", "instance"))
    err = sum_rate_by(fleet, "http_errors_total", ("job", "instance"))
    qmax: dict = {}
    for s in fleet.by_name("queue_depth"):
        key = keep(s.labels, ("job",))
        qmax[key] = max(qmax.get(key, float("-inf")), queue_value(s, ts))
    return {
        "job:http_requests:rate5m": sum_rate_by(
            fleet, "http_requests_total", ("job",)),
        "job_instance:http_errors:ratio_rate5m": {
            k: err[k] / req[k] for k in req},
        "job:queue_depth:max": qmax,
    }


def alert_conditions(fleet: Fleet, ts: int) -> dict:
    """alert name -> set of label tuples (alertname included) whose
    expression is non-empty at ``ts``."""
    req = sum_rate_by(fleet, "http_requests_total", ("job",))
    err = sum_rate_by(fleet, "http_errors_total", ("job",))
    high_err = {
        k + (("alertname", "HighErrorRatio"),)
        for k in req if err[k] / req[k] > ERROR_RATIO_THRESHOLD
    }
    backlog = {
        tuple(sorted(drop_name(s.labels) + (("alertname", "QueueBacklog"),)))
        for s in fleet.by_name("queue_depth") if queue_value(s, ts) > 100
    }
    return {"HighErrorRatio": {tuple(sorted(k)) for k in high_err},
            "QueueBacklog": backlog}


class AlertModel:
    """The pending -> firing state machine, fed the same ticks as the
    rules engine: an alert goes pending when its expression first
    returns it, fires once it has been active for the rule's ``for``,
    and is dropped the first tick it is missing."""

    def __init__(self, fleet: Fleet):
        self.fleet = fleet
        self.active: dict = {name: {} for name in ALERTS}

    def tick(self, ts: int) -> set:
        """Advance to ``ts``; -> {(alertname, label tuple, state)}."""
        now = alert_conditions(self.fleet, ts)
        out = set()
        for name, (_expr, for_ms) in ALERTS.items():
            act = self.active[name]
            for key in [k for k in act if k not in now[name]]:
                del act[key]
            for key in now[name]:
                act.setdefault(key, ts)
                state = "firing" if ts - act[key] >= for_ms else "pending"
                out.add((name, key, state))
        return out


# -- remote write ---------------------------------------------------------

INGEST_NAME = "rw_value"
INGEST_WINDOW_MS = 2 * SCRAPE_MS


def ingest_batch(seed: int, batch: int, targets: int, per_target: int):
    """Samples of batch ``batch``: every target reports ``per_target``
    series twice, inside the window (end - INGEST_WINDOW_MS, end].

    -> (end_ms, {target: [(labels dict, t_ms, value)]}).  Values are
    quarters, so any summation order gives the same float total.
    """
    rng = random.Random(seed * 1_000_003 + batch)
    end = BASE_MS + (batch + 1) * INGEST_WINDOW_MS
    out = {}
    for tg in range(targets):
        off = rng.randrange(0, SCRAPE_MS, 250)
        rows = []
        for j in (1, 0):
            t = end - j * SCRAPE_MS - off
            for s in range(per_target):
                labels = {"__name__": INGEST_NAME, "target": f"t{tg}",
                          "series": f"s{s}"}
                rows.append((labels, t, rng.randrange(0, 4000) / 4.0))
        out[f"t{tg}"] = rows
    return end, out


def batch_totals(rows_by_target: dict) -> tuple[int, float]:
    n, total = 0, 0.0
    for rows in rows_by_target.values():
        n += len(rows)
        total += sum(v for _l, _t, v in rows)
    return n, total
