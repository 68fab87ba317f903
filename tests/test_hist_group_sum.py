"""Differential parity for the vectorized histogram group_sum/avg fold.

The ``mapInArrow`` fast path (`hist_arith._gs_fold_uniform`) must be
bit-identical to the scalar ``from_row`` + ``hist_sum``/``hist_mean``
fold (reference: promql/engine.go:3716 KahanAdd aggregation order) on:

- uniform-layout groups (the vectorized segmented Kahan fold),
- mixed-layout groups (span/schema/zero-threshold drift → scalar
  normal-form fallback),
- custom-bucket histograms,
- groups with incompatible layouts (custom vs exponential → dropped),
- counter_reset_hint lattice outcomes,
- hist_mean's overflow fallback (Σ(h÷n) refold).
"""

import math
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_spark.engine import hist_arith
from prometheus_spark.model.schema import HISTOGRAM_TYPE


class _Ctx:
    def __init__(self, spark):
        self.spark = spark


SCHEMA = T.StructType(
    [
        T.StructField("sig", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("t", T.LongType()),
        T.StructField("hist", HISTOGRAM_TYPE),
        T.StructField("__ord", T.StringType()),
    ]
)


def _mk_hist(rng, spans_pos, pb, spans_neg, nb, sch=3, zt=0.001, zc=1.0,
             hint=0, custom=None, hsum=None):
    return {
        "schema": sch,
        "zero_threshold": zt,
        "zero_count": zc,
        "count": sum(pb) + sum(nb) + zc,
        "sum": rng.uniform(-100, 100) if hsum is None else hsum,
        "pos_spans": [{"offset": o, "length": ln} for o, ln in spans_pos],
        "pos_buckets": pb,
        "neg_spans": [{"offset": o, "length": ln} for o, ln in spans_neg],
        "neg_buckets": nb,
        "custom_values": custom or [],
        "counter_reset_hint": hint,
    }


def _corpus(rng):
    rows = []
    # uniform-layout groups (vector path), hint lattice mixes
    for sig_i in range(4):
        for t in range(6):
            for s in range(7):
                h = _mk_hist(
                    rng, [(1, 2), (2, 1)],
                    [rng.uniform(0, 10) for _ in range(3)],
                    [(0, 2)], [rng.uniform(0, 5) for _ in range(2)],
                    hint=rng.choice([0, 0, 2, 3]),
                )
                rows.append(
                    (f"sig{sig_i}", {"a": f"v{sig_i}"}, t * 1000, h, f"o{s:02d}")
                )
    # mixed span layouts within one group → scalar fallback
    for s in range(6):
        h = _mk_hist(rng, [(1, 2 + s % 2)],
                     [rng.uniform(0, 10) for _ in range(2 + s % 2)], [], [])
        rows.append(("sigM", {"a": "m"}, 0, h, f"o{s:02d}"))
    # custom buckets (uniform bounds)
    for t in range(3):
        for s in range(5):
            h = _mk_hist(rng, [(0, 3)],
                         [rng.uniform(0, 10) for _ in range(3)], [], [],
                         sch=-53, zt=0.0, zc=0.0, custom=[1.0, 2.0, 5.0])
            rows.append(("sigC", {"a": "c"}, t * 1000, h, f"o{s:02d}"))
    # differing zero thresholds → zero-fold normal forms
    for s in range(4):
        h = _mk_hist(rng, [(1, 2)],
                     [rng.uniform(0, 10), rng.uniform(0, 10)], [], [],
                     zt=0.001 * (s + 1))
        rows.append(("sigZ", {"a": "z"}, 0, h, f"o{s:02d}"))
    # differing schemas → reduce_map path
    for s in range(4):
        h = _mk_hist(rng, [(1, 2)],
                     [rng.uniform(0, 10), rng.uniform(0, 10)], [], [],
                     sch=3 + (s % 2))
        rows.append(("sigS", {"a": "s"}, 0, h, f"o{s:02d}"))
    # incompatible: custom + exponential in one group → group dropped
    rows.append(("sigX", {"a": "x"}, 0,
                 _mk_hist(rng, [(0, 2)], [1.0, 2.0], [], []), "o00"))
    rows.append(("sigX", {"a": "x"}, 0,
                 _mk_hist(rng, [(0, 2)], [1.0, 2.0], [], [],
                          sch=-53, zt=0.0, zc=0.0, custom=[1.0, 2.0]), "o01"))
    # avg overflow fallback: finite inputs whose sum overflows
    big = 8.98846567431158e307  # ~half of float64 max
    for s in range(4):
        h = _mk_hist(rng, [(0, 1)], [big], [], [], zc=0.0, hsum=big)
        rows.append(("sigO", {"a": "o"}, 0, h, f"o{s:02d}"))
    return rows


def _run(ctx, df, avg, vector):
    fold = hist_arith.group_sum if vector else hist_arith._group_sum_pandas
    out = fold(ctx, df, avg=avg).collect()
    return {(r["sig"], r["t"]): r for r in out}


@pytest.mark.parametrize("avg", [False, True])
def test_group_sum_vector_scalar_parity(spark, avg):
    rng = random.Random(7)
    df = spark.createDataFrame(_corpus(rng), SCHEMA)
    ctx = _Ctx(spark)
    fast = _run(ctx, df, avg, vector=True)
    slow = _run(ctx, df, avg, vector=False)
    assert set(fast) == set(slow)
    # sig-native fold (round 12): the group sig passes through verbatim
    out_sigs = {k[0] for k in fast}
    assert "sig0" in out_sigs  # uniform groups present
    assert "sigX" not in out_sigs  # incompatible group dropped
    for k, rf in fast.items():
        rs = slow[k]
        assert rf["hist"] == rs["hist"], (k, rf["hist"], rs["hist"])


def test_group_sum_avg_overflow_fallback(spark):
    """The Σ(h÷n) refold keeps the mean finite when the plain sum
    overflows (hist_mean's incremental fallback)."""
    rng = random.Random(3)
    df = spark.createDataFrame(
        [r for r in _corpus(rng) if r[0] == "sigO"], SCHEMA
    )
    ctx = _Ctx(spark)
    fast = _run(ctx, df, avg=True, vector=True)
    (key,) = fast
    h = fast[key]["hist"]
    assert math.isfinite(h["sum"]) and math.isfinite(h["count"])
    slow = _run(ctx, df, avg=True, vector=False)
    assert fast[key]["hist"] == slow[key]["hist"]
