"""Differential parity for the vectorized histogram rate as-of path.

`hist_arith.window_rate_asof`'s mapInArrow fast path (uniform layout,
no STs, reset-free series → numpy window folds) must match the scalar
pandas spelling (`_window_rate_asof_pandas`, exact hist_rate replay —
promql/functions.go:640 histogramRate + :452 extrapolation) bit for bit
across rate/increase/delta on series with counter resets, explicit
reset-hint markers, custom buckets, created timestamps, and mid-series
span-layout drift.
"""

import random

import pytest
from pyspark.sql import types as T

import prometheus_spark.engine.hist_arith as ha
from prometheus_spark.model.schema import HISTOGRAM_TYPE
from prometheus_spark.shipping import ensure_shipped

SCHEMA = T.StructType(
    [
        T.StructField("sig", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("t", T.LongType()),
        T.StructField("hist", HISTOGRAM_TYPE),
        T.StructField("st", T.LongType()),
    ]
)


class _Ctx:
    def __init__(self, spark):
        self.spark = spark
        self.start_ms = 0
        self.end_ms = 1_200_000
        self.step_ms = 30_000


def _mk(cum, i, hint, spans=((0, 2), (1, 2)), nb=True, sch=1, custom=None,
        zt=0.001):
    pb = [float(cum + j) for j in range(sum(ln for _, ln in spans))]
    return {
        "schema": sch, "zero_threshold": zt, "zero_count": float(cum) * 0.5,
        "count": float(sum(pb)), "sum": 18.4 * (i + 1),
        "pos_spans": [{"offset": o, "length": ln} for o, ln in spans],
        "pos_buckets": pb,
        "neg_spans": [{"offset": o, "length": ln} for o, ln in spans] if nb else [],
        "neg_buckets": [x + 0.5 for x in pb] if nb else [],
        "custom_values": custom or [], "counter_reset_hint": hint,
    }


def _corpus():
    rng = random.Random(11)
    rows = []
    # uniform monotone series → vector path (unknown hints: detect_reset runs)
    for s in range(12):
        cum = 0
        for i in range(80):
            cum += rng.randint(0, 3)
            rows.append((f"s{s:02d}", {"h": str(s)}, i * 15000, _mk(cum, i, 0), None))
    # mid-stream counter reset → scalar fallback series
    cum = 0
    for i in range(80):
        cum = cum + rng.randint(1, 3) if i != 37 else 1
        rows.append(("rst", {"h": "rst"}, i * 15000, _mk(cum, i, 0), None))
    # dense resets: several per [5m] window → exercises the segmented
    # vector fold's in-window multi-correction ordering (round 11)
    cum = 0
    for i in range(80):
        cum = cum + rng.randint(1, 3) if i % 7 else 1
        rows.append(("dense", {"h": "dense"}, i * 15000, _mk(cum, i, 0), None))
    # reset on the window's FIRST pair at various alignments
    cum = 0
    for i in range(80):
        cum = cum + 2 if i % 11 else 0
        rows.append(("edge", {"h": "edge"}, i * 15000, _mk(cum, i, 0), None))
    # explicit hint=1 reset marker
    cum = 0
    for i in range(80):
        cum += 1
        rows.append(("hintr", {"h": "hintr"}, i * 15000,
                     _mk(cum, i, 1 if i == 20 else 2), None))
    # custom-bucket series
    cum = 0
    for i in range(60):
        cum += rng.randint(0, 2)
        rows.append(("cust", {"h": "c"}, i * 15000,
                     _mk(cum, i, 0, spans=((0, 3),), nb=False, sch=-53,
                         custom=[1.0, 2.0, 5.0], zt=0.0), None))
    # created timestamps → fallback (ST windows, single-sample ST rates)
    cum = 0
    for i in range(60):
        cum += 1
        rows.append(("stser", {"h": "st"}, i * 15000, _mk(cum, i, 0),
                     100 if i < 30 else 400000))
    # span-layout drift mid-series → non-uniform chunk
    cum = 0
    for i in range(60):
        cum += 1
        sp = ((0, 2), (1, 2)) if i < 30 else ((0, 3), (1, 1))
        rows.append(("drift", {"h": "d"}, i * 15000, _mk(cum, i, 0, spans=sp), None))
    return rows


def _run(ctx, df, vector, is_counter, is_rate):
    fold = ha.window_rate_asof if vector else ha._window_rate_asof_pandas
    out = fold(
        ctx, df, 300_000, 0, is_counter=is_counter, is_rate=is_rate
    ).collect()
    return {(r["sig"], r["t"]): r for r in out}


@pytest.mark.parametrize(
    "is_counter,is_rate", [(True, True), (True, False), (False, False)]
)
def test_rate_asof_vector_scalar_parity(spark, is_counter, is_rate):
    ensure_shipped(spark)
    df = spark.createDataFrame(_corpus(), SCHEMA)
    ctx = _Ctx(spark)
    fast = _run(ctx, df, True, is_counter, is_rate)
    slow = _run(ctx, df, False, is_counter, is_rate)
    assert set(fast) == set(slow)
    assert fast  # non-empty
    for k, rf in fast.items():
        rs = slow[k]
        assert rf["hist"] == rs["hist"], (k, rf["hist"], rs["hist"])
