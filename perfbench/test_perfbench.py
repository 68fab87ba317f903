"""Tests of the benchmark's generators and checkers; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def extrapolated_rate(points, t_ms, range_ms):
    """Prometheus' rate() over (t - range, t], written out from
    promql/functions.go extrapolatedRate for float counters."""
    lo = t_ms - range_ms
    pts = [(t, v) for t, v in points if lo < t <= t_ms]
    assert len(pts) >= 2
    increase = pts[-1][1] - pts[0][1]
    for (_, a), (_, b) in zip(pts, pts[1:]):
        if b < a:
            increase += a
    sampled = (pts[-1][0] - pts[0][0]) / 1000.0
    to_start = (pts[0][0] - lo) / 1000.0
    to_end = (t_ms - pts[-1][0]) / 1000.0
    avg = sampled / (len(pts) - 1)
    if increase > 0 and pts[0][1] >= 0:
        to_start = min(to_start, sampled * (pts[0][1] / increase))
    threshold = avg * 1.1
    extrapolate = sampled
    extrapolate += to_start if to_start < threshold else avg / 2
    extrapolate += to_end if to_end < threshold else avg / 2
    return increase * (extrapolate / sampled) / (range_ms / 1000.0)


def samples_of(s, npts):
    return [(gen.BASE_MS + k * gen.SCRAPE_MS + s.offset_ms, s.value_at(k))
            for k in range(npts)]


def test_counter_rate_has_closed_form_across_resets():
    fleet = gen.http_fleet(7, jobs=2, instances=3, histograms=True, queues=False)
    npts = 200
    for s in fleet.series:
        pts = samples_of(s, npts)
        assert any(b < a for (_, a), (_, b) in zip(pts, pts[1:])), "no reset"
        for t in range(gen.BASE_MS + 400_000, pts[-1][0], 37_000):
            assert math.isclose(
                extrapolated_rate(pts, t, gen.RANGE_MS), s.rate, rel_tol=1e-9)


def test_rates_are_distinct_so_topk_is_decided():
    fleet = gen.http_fleet(3, jobs=4, instances=6, histograms=True, queues=False)
    rates = sorted(s.rate for s in fleet.by_name("http_requests_total"))
    assert all(b - a >= 0.05 - 1e-9 for a, b in zip(rates, rates[1:]))
    top = gen.panel_expectations(fleet)["topk_series"]
    assert len(top) == gen.TOPK
    assert min(top.values()) == rates[-gen.TOPK]


def test_bucket_quantile_interpolates_classic_buckets():
    b = [(1.0, 10.0), (2.0, 20.0), (float("inf"), 20.0)]
    assert gen.bucket_quantile(0.5, b) == 1.0
    assert gen.bucket_quantile(0.75, b) == 1.5
    assert gen.bucket_quantile(0.25, b) == 0.5
    # rank in the +Inf bucket: the highest finite bound
    assert gen.bucket_quantile(0.9, [(1.0, 5.0), (float("inf"), 10.0)]) == 1.0
    assert math.isnan(gen.bucket_quantile(0.5, [(1.0, 5.0), (2.0, 9.0)]))


def test_error_ratio_alert_is_far_from_its_threshold():
    fleet = gen.http_fleet(5, jobs=8, instances=4, histograms=False, queues=True)
    req = gen.sum_rate_by(fleet, "http_requests_total", ("job",))
    err = gen.sum_rate_by(fleet, "http_errors_total", ("job",))
    for k in req:
        ratio = err[k] / req[k]
        assert abs(ratio - gen.ERROR_RATIO_THRESHOLD) > 0.02


def test_alert_model_holds_for_then_fires_then_drops():
    fleet = gen.http_fleet(9, jobs=2, instances=4, histograms=False, queues=True)
    model = gen.AlertModel(fleet)
    for_ms = gen.ALERTS["QueueBacklog"][1]
    first_seen, states = {}, {}
    ts0 = gen.BASE_MS + gen.RANGE_MS
    for i in range(120):
        ts = ts0 + i * gen.RULE_INTERVAL_MS
        now = gen.alert_conditions(fleet, ts)["QueueBacklog"]
        out = {(k, st) for name, k, st in model.tick(ts) if name == "QueueBacklog"}
        assert {k for k, _ in out} == now
        for key in list(first_seen):
            if key not in now:
                del first_seen[key]
        for key, st in out:
            first_seen.setdefault(key, ts)
            want = "firing" if ts - first_seen[key] >= for_ms else "pending"
            assert st == want
            states.setdefault(st, 0)
            states[st] += 1
    assert states.get("pending") and states.get("firing")


def test_ingest_batch_stays_inside_its_window():
    end, rows = gen.ingest_batch(1, 4, targets=5, per_target=3)
    n, total = gen.batch_totals(rows)
    assert n == 2 * 5 * 3
    for target_rows in rows.values():
        for _labels, t, v in target_rows:
            assert end - gen.INGEST_WINDOW_MS < t <= end
            assert v * 4 == int(v * 4)
    assert gen.ingest_batch(1, 4, 5, 3) == (end, rows)
    assert gen.ingest_batch(1, 5, 5, 3)[1] != rows


# -- every checker accepts the exact answer and rejects a perturbed one ---


def matrix_response(expected, steps):
    return {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": dict(k), "values": [[t, repr(v)] for t in steps]}
        for k, v in expected.items()]}}


def test_check_matrix_rejects_a_perturbed_value_and_a_missing_point():
    fleet = gen.http_fleet(2, jobs=4, instances=3, histograms=True, queues=False)
    steps = list(range(1000, 1600, 60))
    for panel, expected in gen.panel_expectations(fleet).items():
        resp = matrix_response(expected, steps)
        assert check.check_matrix(panel, 200, resp, expected, steps) == []
        bad = matrix_response(expected, steps)
        t, v = bad["data"]["result"][0]["values"][3]
        bad["data"]["result"][0]["values"][3] = [t, repr(float(v) * 1.001)]
        assert check.check_matrix(panel, 200, bad, expected, steps)
        short = matrix_response(expected, steps)
        short["data"]["result"][-1]["values"].pop()
        assert check.check_matrix(panel, 200, short, expected, steps)
        assert check.check_matrix(panel, 400, {"error": "x"}, expected, steps)


def recording_rows(fleet, ts):
    return [{"name": name, "labels": {**dict(k), "__name__": name}, "t": ts,
             "value": v, "stale": False}
            for name, exp in gen.recording_expectations(fleet, ts).items()
            for k, v in exp.items()]


def test_check_recording_rejects_a_perturbed_value_and_a_stale_marker():
    fleet = gen.http_fleet(4, jobs=3, instances=3, histograms=False, queues=True)
    ts = gen.BASE_MS + 600_000
    rows = recording_rows(fleet, ts)
    assert check.check_recording(rows, ts, fleet) == []
    for i in range(len(rows)):
        bad = recording_rows(fleet, ts)
        bad[i]["value"] += 1.0
        assert check.check_recording(bad, ts, fleet), bad[i]
    stale = recording_rows(fleet, ts) + [dict(rows[0], stale=True, value=None)]
    assert check.check_recording(stale, ts, fleet)
    assert check.check_recording(rows[1:], ts, fleet)


def test_check_alerts_rejects_a_wrong_state():
    fleet = gen.http_fleet(6, jobs=4, instances=4, histograms=False, queues=True)
    model = gen.AlertModel(fleet)
    ts = gen.BASE_MS + gen.RANGE_MS
    predicted = set()
    for i in range(20):
        predicted = model.tick(ts + i * gen.RULE_INTERVAL_MS)
    assert predicted
    rows = [(name, dict(k), {}, st, 0, 1.0) for name, k, st in predicted]
    assert check.check_alerts(rows, ts, predicted) == []
    flip = {"pending": "firing", "firing": "pending"}
    bad = [(rows[0][0], rows[0][1], {}, flip[rows[0][3]], 0, 1.0)] + rows[1:]
    assert check.check_alerts(bad, ts, predicted)
    assert check.check_alerts(rows[1:], ts, predicted)


def test_check_ingest_rejects_a_lost_sample_and_a_wrong_sum():
    _end, rows = gen.ingest_batch(3, 0, targets=4, per_target=5)
    n, total = gen.batch_totals(rows)
    assert check.check_ingest(0, float(n), total, n, total) == []
    assert check.check_ingest(0, float(n - 1), total, n, total)
    assert check.check_ingest(0, float(n), total + 0.25, n, total)
