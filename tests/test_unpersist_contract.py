"""Deterministic release of operator-persisted intermediates.

The dedup candidate generators persist mid-pipeline frames the returned
DataFrame still references; `release_intermediates()` is the caller-side
contract for dropping those blocks once results are consumed (bench.py
calls it after every query).  These tests pin the contract with the
JVM's own persistent-RDD registry: after release, no blocks pinned by
the operator remain.
"""

from __future__ import annotations

import pytest

from prometheus_spark.pipeline import dedup
from prometheus_spark.pipeline.similarity import AnnIndex


def _persistent_ids(spark) -> set:
    # track IDs, not counts: the suite's shared session unpersists other
    # frames asynchronously (ContextCleaner, engine series dims), so a
    # global count is racy — what matters is that THESE blocks are gone
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3} again and again")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_release(spark, docs):
    base = _persistent_ids(spark)
    out = dedup.minhash_dup_candidates_portable(docs, star_threshold=8)
    out.count()  # materializes the tracked band-bucket intermediate
    new = _persistent_ids(spark) - base
    assert new
    released = dedup.release_intermediates()
    assert released >= 1
    assert not (new & _persistent_ids(spark))
    # idempotent: nothing tracked twice
    assert dedup.release_intermediates() == 0


def test_ngram_jaccard_release(spark, docs):
    base = _persistent_ids(spark)
    dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3).count()
    new = _persistent_ids(spark) - base
    assert new
    assert dedup.release_intermediates() >= 1
    assert not (new & _persistent_ids(spark))


def test_released_frame_recomputes(spark, docs):
    # persisted (not checkpointed) intermediates keep lineage: consuming
    # the result AFTER release must recompute, not fail
    out = dedup.minhash_dup_candidates_portable(docs, star_threshold=8)
    n1 = out.count()
    dedup.release_intermediates()
    assert out.count() == n1


def test_ann_index_unpersist(spark):
    rows = [(i, [float((i * j) % 5 - 2) for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "id long, emb array<float>")
    base = _persistent_ids(spark)
    idx = AnnIndex.build(emb, vec_col="emb", id_col="id", planes=4)
    idx.df.count()
    new = _persistent_ids(spark) - base
    assert new
    idx.unpersist()
    assert not (new & _persistent_ids(spark))


def test_recording_rules_release_old_outputs(spark):
    """Each recording rule persists its tick output for the next tick's
    vanished-series anti-join; the frame returned a tick earlier reads
    the generation before it lazily, so at most two generations per rule
    stay persisted — whatever the tick count."""
    from prometheus_spark.storage import samples_from_rows
    from prometheus_spark.streaming import RecordingRule, RuleGroup, RulesEngine

    step = 10_000
    rows = [
        ({"__name__": "m", "i": str(i)}, t * step, float(t + i))
        for t in range(40)
        for i in range(3)
        if not (i == 2 and t > 8)  # i="2" vanishes: stale markers
    ]
    samples = samples_from_rows(spark, rows)
    rules = [RecordingRule("m:sum", "sum(m)"), RecordingRule("m:double", "m * 2")]
    group = RuleGroup("g", step, rules)
    base = _persistent_ids(spark)
    eng = RulesEngine(spark, samples, lookback_ms=3 * step)
    outs, counts, sizes = [], [], []
    for tick in range(6):
        out, _ = eng.eval_tick(group, (8 + tick) * step)
        outs.append(out)
        counts.append(out.count())
        sizes.append(len(_persistent_ids(spark) - base))
    # 2 generations × 2 recording rules, plus the engine's series dim
    assert max(sizes) <= 2 * 2 + 1, sizes
    assert sizes[-1] == sizes[3], sizes
    assert any(c > counts[-1] for c in counts), counts  # markers emitted
    # a returned frame stays consumable after its input is released
    assert outs[0].count() == counts[0]
    eng.drop_group_state("g")
    assert len(_persistent_ids(spark) - base) <= 1
