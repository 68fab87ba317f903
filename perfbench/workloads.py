"""The three workloads.  Each is a closed loop driven from this process:
it builds its inputs from the seed, warms every query shape (counted in
set-up), then runs whole rounds until ``seconds`` have passed, timing
each call into the program from outside and checking every answer.

- dashboard: Grafana-like panels through ``PromAPI.handle`` over a
  Parquet store with long history; every refresh slides the window by
  one step, so no (query, start, end, step) repeats.
- rules: one rule group through ``RulesEngine.eval_tick`` at successive
  aligned timestamps over a store with ten times the series and a short
  history; each tick's output frame is materialised.
- ingest: remote-write v1/v2 bodies through
  ``RemoteWriteReceiver.handle_body``; after each batch the engine's
  samples are swapped to ``spool_to_samples`` and the batch is read back.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import gen

# Sizes keep a run, set-up included, near a minute on 4 cores.  README.md
# says why dashboard, at these sizes, is still too slow for BENCHMARK.json.
DASHBOARD = dict(jobs=4, instances=6, hours=2, window_ms=3_600_000,
                 step_ms=60_000, warmup_refreshes=1)
RULES = dict(jobs=8, instances=40, minutes=20, warmup_ticks=2)
INGEST = dict(targets=200, per_target=100, bodies=8, warmup_batches=2)

V1 = "application/x-protobuf"
V2 = "application/x-protobuf;proto=io.prometheus.write.v2.Request"


@dataclass
class Result:
    e2e: dict
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    notes: list = field(default_factory=list)


def p50(xs) -> float:
    return statistics.median(xs)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum files skipped)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if not f.startswith("."))
    return total


def samples_frame(spark, series: list, npts: int):
    """The canonical samples of ``series`` at ``npts`` scrapes each,
    computed in the JVM with the same formula as ``gen.Series.value_at``."""
    from pyspark.sql import functions as F

    from prometheus_spark.model.labels import sig_expr

    spec = spark.createDataFrame(
        [(dict(s.labels), s.name, s.kind == "counter", s.inc, s.period,
          s.phase, s.offset_ms, s.high, s.low, s.high_len) for s in series],
        "labels map<string,string>, name string, counter boolean, inc double,"
        " period long, phase long, off long, high double, low double,"
        " high_len long",
    )
    k = F.col("k")
    j = (k + F.col("phase")) % F.col("period")
    value = (F.when(F.col("counter"), F.col("inc") * (j + 1))
             .when(j < F.col("high_len"), F.col("high"))
             .otherwise(F.col("low")))
    return spec.crossJoin(spark.range(npts).withColumnRenamed("id", "k")).select(
        sig_expr("labels").alias("sig"),
        "name",
        "labels",
        (F.lit(gen.BASE_MS) + k * gen.SCRAPE_MS + F.col("off")).alias("t"),
        value.alias("value"),
        F.lit(False).alias("stale"),
    )


def write_store(spark, layers, series: list, npts: int, path: str):
    """Write the store with ``storage.write_samples`` and reopen it.
    -> (samples frame, write seconds, sample count)."""
    from prometheus_spark.storage import read_samples, write_samples

    df = samples_frame(spark, series, npts)
    t0 = time.perf_counter()
    write_samples(df, path)
    write_s = time.perf_counter() - t0
    n = len(series) * npts
    layers.add("storage.write_s", write_s)
    layers.add("storage.bytes_per_sample", dir_bytes(path) / n)
    return read_samples(spark, path), write_s, n


def open_engine(engine, layers) -> float:
    """First access of the engine's series dimension after an open or a
    samples swap; -> seconds."""
    t0 = time.perf_counter()
    engine.series_dim  # noqa: B018 — the access builds and caches it
    dt = time.perf_counter() - t0
    layers.add("engine.open_s", dt)
    return dt


def timed_loop(seconds: float, round_fn):
    """Run whole rounds ``round_fn(0)``, ``round_fn(1)``, ... until
    ``seconds`` have passed.  -> elapsed seconds."""
    t0 = time.monotonic()
    i = 0
    while time.monotonic() - t0 < seconds:
        round_fn(i)
        i += 1
    return time.monotonic() - t0


# -- dashboard ------------------------------------------------------------


def dashboard(spark, layers, seed, seconds, data, start) -> Result:
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.web.api import PromAPI

    cfg = DASHBOARD
    fleet = gen.http_fleet(seed, cfg["jobs"], cfg["instances"],
                           histograms=True, queues=False)
    npts = cfg["hours"] * 3_600_000 // gen.SCRAPE_MS
    samples, write_s, n = write_store(
        spark, layers, fleet.series, npts, os.path.join(data, "store"))
    engine = PromQLEngine(spark, samples)
    open_engine(engine, layers)
    api = PromAPI(engine)
    expected = gen.panel_expectations(fleet)
    window, step = cfg["window_ms"], cfg["step_ms"]
    first_end = gen.BASE_MS + gen.RANGE_MS + window + step
    store_end = gen.BASE_MS + npts * gen.SCRAPE_MS
    res = Result(e2e={})

    def panel(query: str, end: int):
        params = {"query": [query], "start": [str((end - window) // 1000)],
                  "end": [str(end // 1000)], "step": [str(step // 1000)]}
        with layers.operation(1) as rec:
            code, resp = api.handle("/api/v1/query_range", params)
        return rec["wall"], code, resp

    def refresh(i: int, timed: bool):
        """Every panel once, one after another; -> (seconds, latencies).
        The warm-up runs the panels side by side: each first run mostly
        waits on code generation, which overlaps across cores."""
        end = first_end + i * step
        if end > store_end:
            raise RuntimeError("store too short for this run length")
        t0 = time.perf_counter()
        if timed:
            outs = {name: panel(q, end) for name, q in gen.PANELS.items()}
        else:
            with ThreadPoolExecutor(len(gen.PANELS)) as pool:
                futs = {name: pool.submit(panel, q, end)
                        for name, q in gen.PANELS.items()}
                outs = {name: f.result() for name, f in futs.items()}
        wall = time.perf_counter() - t0
        steps = list(range((end - window) // 1000, end // 1000 + 1, step // 1000))
        lats = []
        for name, (lat, code, resp) in outs.items():
            if code != 200:
                res.failed += timed
                res.notes.append(f"{name}: HTTP {code}: {resp.get('error')}")
                continue
            lats.append(lat)
            res.errors += check.check_matrix(name, code, resp, expected[name], steps)
        res.attempted += timed * len(outs)
        return wall, lats

    t_warm = time.monotonic()
    for i in range(cfg["warmup_refreshes"]):
        refresh(i, timed=False)
    res.notes.append(f"warm-up {time.monotonic() - t_warm:.2f} s")
    layers.start_timed()
    setup_s = time.monotonic() - start
    ticks, lats = [], []

    def one(i):
        wall, l = refresh(cfg["warmup_refreshes"] + i, timed=True)
        ticks.append(wall)
        lats.extend(l)

    loop_s = timed_loop(seconds, one)
    res.e2e = dict(
        setup_s=setup_s,
        query_p50_s=p50(lats),
        queries_per_s=len(lats) / loop_s,
        tick_p50_s=p50(ticks),
        ingest_samples_per_s=n / write_s,
        read_after_write_p50_s=p50(ticks),
    )
    res.notes.append(f"dashboard: {len(fleet.series)} series, {n} samples, "
                     f"{len(ticks)} refreshes, {len(lats)} queries")
    res.notes.append("queries: " + " ".join(f"{t:.2f}" for t in lats))
    return res


# -- rules ----------------------------------------------------------------


def rule_group():
    from prometheus_spark.streaming.rules import (
        AlertingRule,
        RecordingRule,
        RuleGroup,
    )

    rules = [RecordingRule(record=name, expr=expr)
             for name, expr in gen.RECORDING.items()]
    rules += [AlertingRule(alert=name, expr=expr, for_ms=for_ms)
              for name, (expr, for_ms) in gen.ALERTS.items()]
    return RuleGroup(name="perfbench", interval_ms=gen.RULE_INTERVAL_MS,
                     rules=rules)


def rules(spark, layers, seed, seconds, data, start) -> Result:
    from prometheus_spark.streaming.rules import RulesEngine

    cfg = RULES
    fleet = gen.http_fleet(seed, cfg["jobs"], cfg["instances"],
                           histograms=False, queues=True)
    npts = cfg["minutes"] * 60_000 // gen.SCRAPE_MS
    samples, _write_s, n = write_store(
        spark, layers, fleet.series, npts, os.path.join(data, "store"))
    engine = RulesEngine(spark, samples, lookback_ms=gen.RANGE_MS)
    open_engine(engine.engine, layers)
    group = rule_group()
    model = gen.AlertModel(fleet)
    first_ts = gen.BASE_MS + gen.RANGE_MS + gen.RULE_INTERVAL_MS
    store_end = gen.BASE_MS + npts * gen.SCRAPE_MS
    res = Result(e2e={})

    def tick(i: int, timed: bool):
        ts = first_ts + i * gen.RULE_INTERVAL_MS
        if ts > store_end:
            raise RuntimeError("store too short for this run length")
        res.attempted += timed
        with layers.operation(len(group.rules)) as rec:
            out, alert_rows = engine.eval_tick(group, ts)
            rows = out.collect() if out is not None else []
        res.errors += check.check_recording(
            [r.asDict() for r in rows], ts, fleet)
        res.errors += check.check_alerts(alert_rows, ts, model.tick(ts))
        return rec["wall"], len(rows)

    for i in range(cfg["warmup_ticks"]):
        tick(i, timed=False)
    layers.start_timed()
    setup_s = time.monotonic() - start
    ticks, appended = [], []

    def one(i):
        wall, rows = tick(cfg["warmup_ticks"] + i, timed=True)
        ticks.append(wall)
        appended.append(rows)

    loop_s = timed_loop(seconds, one)
    per_rule = [t / len(group.rules) for t in ticks]
    res.e2e = dict(
        setup_s=setup_s,
        query_p50_s=p50(per_rule),
        queries_per_s=len(ticks) * len(group.rules) / loop_s,
        tick_p50_s=p50(ticks),
        # samples the group hands back for appending, per second of ticking
        ingest_samples_per_s=sum(appended) / sum(ticks),
        read_after_write_p50_s=p50(ticks),
    )
    res.notes.append(f"rules: {len(fleet.series)} series, {n} samples, "
                     f"{len(ticks)} ticks of {len(group.rules)} rules")
    res.notes.append("ticks: " + " ".join(f"{t:.2f}" for t in ticks))
    return res


# -- ingest ---------------------------------------------------------------


def encode_bodies(rows_by_target: dict, bodies: int) -> list:
    """Split a batch's targets over ``bodies`` requests, alternating the
    v1 and v2 wire formats.  -> [(body, content type)]."""
    from prometheus_spark.sources.remote_write import (
        encode_write_request,
        encode_write_request_v2,
    )

    targets = sorted(rows_by_target)
    out = []
    for b in range(bodies):
        rows = [r for tg in targets[b::bodies] for r in rows_by_target[tg]]
        if b % 2:
            out.append((encode_write_request_v2(rows), V2))
        else:
            out.append((encode_write_request(rows), V1))
    return out


def ingest(spark, layers, seed, seconds, data, start) -> Result:
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.sources import RemoteWriteReceiver, spool_to_samples
    from prometheus_spark.web.api import PromAPI

    cfg = INGEST
    window_s = gen.INGEST_WINDOW_MS // 1000
    queries = {
        "count": f"sum(count_over_time({gen.INGEST_NAME}[{window_s}s]))",
        "sum": f"sum(sum_over_time({gen.INGEST_NAME}[{window_s}s]))",
    }
    res = Result(e2e={})
    engine = api = None
    decoded, decode_s, reads, raws, ticks, body_s = [], [], [], [], [], []

    def batch(b: int, timed: bool):
        """Send one batch into a fresh spool, swap the engine onto it and
        read the batch back.  A spool holds one batch: the one before it
        has been handed on, as a compactor would, so every batch costs
        the same whatever the run length."""
        nonlocal engine, api
        end, rows = gen.ingest_batch(seed, b, cfg["targets"], cfg["per_target"])
        want_n, want_sum = gen.batch_totals(rows)
        bodies = encode_bodies(rows, cfg["bodies"])
        spool = os.path.join(data, f"spool-{b}")
        recv = RemoteWriteReceiver(spool)
        res.attempted += timed
        t0 = time.perf_counter()
        write_s = 0.0
        for body, ctype in bodies:
            t = time.perf_counter()
            recv.handle_body(body, ctype)
            dt = time.perf_counter() - t
            layers.add("sources.decode_s", dt)
            write_s += dt
            if timed:
                body_s.append(dt)
        t_w = time.perf_counter()
        samples = spool_to_samples(spark, spool)
        if engine is None:
            engine = PromQLEngine(spark, samples)
            api = PromAPI(engine)
        else:
            engine.samples = samples
        open_engine(engine, layers)
        got, lats = {}, []
        for key, q in queries.items():
            with layers.operation(1) as rec:
                code, resp = api.handle(
                    "/api/v1/query", {"query": [q], "time": [str(end / 1000)]})
            lats.append(rec["wall"])
            if code != 200:
                res.failed += timed
                res.notes.append(f"ingest {key}: HTTP {code}: {resp.get('error')}")
                return
            result = resp["data"]["result"]
            got[key] = float(result[0]["value"][1]) if result else 0.0
        raw = time.perf_counter() - t_w
        layers.add("sources.spool_bytes_per_sample", dir_bytes(spool) / want_n)
        shutil.rmtree(os.path.join(data, f"spool-{b - 1}"), ignore_errors=True)
        res.errors += check.check_ingest(b, got["count"], got["sum"], want_n, want_sum)
        if timed:
            decoded.append(want_n)
            decode_s.append(write_s)
            reads.append(statistics.fmean(lats))
            raws.append(raw)
            ticks.append(time.perf_counter() - t0)

    for b in range(cfg["warmup_batches"]):
        batch(b, timed=False)
    layers.start_timed()
    setup_s = time.monotonic() - start
    loop_s = timed_loop(
        seconds, lambda i: batch(cfg["warmup_batches"] + i, timed=True))
    res.e2e = dict(
        setup_s=setup_s,
        # the two read-backs differ threefold in cost, so a median over
        # single queries would flip between them: take each batch's mean
        query_p50_s=p50(reads),
        queries_per_s=len(queries) * len(reads) / loop_s,
        tick_p50_s=p50(ticks),
        # every handle_body call of the run, so one slow moment of the
        # machine weighs by its length, not by the batch it fell in
        ingest_samples_per_s=sum(decoded) / sum(decode_s),
        read_after_write_p50_s=p50(raws),
    )
    res.notes.append(f"ingest: {len(ticks)} batches of "
                     f"{2 * cfg['targets'] * cfg['per_target']} samples")
    res.notes.append("samples/s: " + " ".join(
        f"{n / s:.0f}" for n, s in zip(decoded, decode_s)))
    res.notes.append("bodies ms: " + " ".join(f"{t * 1000:.0f}" for t in body_s))
    res.notes.append("batches: " + " ".join(f"{t:.2f}" for t in ticks))
    res.notes.append("read-backs: " + " ".join(f"{t:.2f}" for t in raws))
    res.notes.append("queries: " + " ".join(f"{t:.2f}" for t in reads))
    return res


WORKLOADS = {"dashboard": dashboard, "rules": rules, "ingest": ingest}
