"""Checkers: compare the program's answers with gen's closed forms.

Each returns a list of human-readable mismatches; empty means correct.
Pure Python, so the tests can feed them hand-made answers.
"""

from __future__ import annotations

import math

import gen

REL_TOL = 1e-6


def close(got: float, want: float) -> bool:
    return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=1e-12)


def label_key(metric: dict) -> tuple:
    return tuple(sorted((k, v) for k, v in metric.items() if k != "__name__"))


def check_matrix(panel: str, code: int, resp: dict, expected: dict,
                 steps_s: list) -> list:
    """A /api/v1/query_range response against {label key: value}: the
    series set, one point per step for each (row count = series x
    steps), and every value."""
    if code != 200 or resp.get("status") != "success":
        return [f"{panel}: HTTP {code}: {resp.get('error')}"]
    got = {label_key(s["metric"]): s.get("values", [])
           for s in resp["data"]["result"]}
    errs = []
    if set(got) != set(expected):
        errs.append(f"{panel}: series {sorted(got)[:3]}... != "
                    f"expected {sorted(expected)[:3]}...")
    rows = sum(len(v) for v in got.values())
    if rows != len(expected) * len(steps_s):
        errs.append(f"{panel}: {rows} points, expected "
                    f"{len(expected)} series x {len(steps_s)} steps")
    for key, values in got.items():
        want = expected.get(key)
        if want is None:
            continue
        if [t for t, _v in values] != steps_s:
            errs.append(f"{panel}: {key} timestamps differ from the step grid")
        bad = [(t, v) for t, v in values if not close(float(v), want)]
        if bad:
            errs.append(f"{panel}: {key} = {bad[0][1]} at {bad[0][0]}, "
                        f"expected {want!r}")
    return errs


def check_recording(rows: list, ts: int, fleet) -> list:
    """One tick's output rows (dicts with name, labels, t, value, stale)
    against the recording rules' closed forms at ``ts``.  The output
    series never change, so no staleness marker may appear for them."""
    expected = gen.recording_expectations(fleet, ts)
    got: dict = {name: {} for name in expected}
    errs = []
    for r in rows:
        if r["name"] not in expected:
            continue
        if r["stale"]:
            errs.append(f"tick {ts}: stale marker for {r['name']}")
            continue
        if r["t"] != ts:
            errs.append(f"tick {ts}: {r['name']} sample at {r['t']}")
        got[r["name"]][label_key(r["labels"])] = r["value"]
    for name, want in expected.items():
        if set(got[name]) != set(want):
            errs.append(f"tick {ts}: {name} has {len(got[name])} series, "
                        f"expected {len(want)}")
            continue
        for key, v in want.items():
            g = got[name][key]
            if g is None or not close(g, v):
                errs.append(f"tick {ts}: {name}{dict(key)} = {g}, expected {v}")
                break
    return errs


def check_alerts(alert_rows: list, ts: int, predicted: set) -> list:
    """eval_tick's alert rows (alertname, labels, annotations, state,
    active_since, value) against the model's {(alertname, labels,
    state)} for pending and firing alerts."""
    got = {
        (name, tuple(sorted(labels.items())), state)
        for name, labels, _ann, state, _since, _v in alert_rows
        if state in ("pending", "firing")
    }
    if got == predicted:
        return []
    missing = sorted(predicted - got)[:2]
    extra = sorted(got - predicted)[:2]
    return [f"tick {ts}: alerts missing {missing}, unexpected {extra}"]


def check_ingest(batch: int, count: float, total: float, want_count: int,
                 want_total: float) -> list:
    """Read-back count_over_time / sum_over_time totals of one batch
    against the generator's own count and sum."""
    errs = []
    if count != want_count:
        errs.append(f"batch {batch}: count_over_time {count}, sent {want_count}")
    if not close(total, want_total):
        errs.append(f"batch {batch}: sum_over_time {total}, sent {want_total}")
    return errs
