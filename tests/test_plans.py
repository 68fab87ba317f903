"""Physical-plan assertions — the 100 TB design contract.

These tests pin the properties that make the engine viable at scale:
filters reach the parquet scan (partition pruning + row-group stats),
the float hot path never enters Python, joins pick hash/sort-merge
strategies (never cartesian), and single aggregations produce a single
shuffle.  A regression here is invisible at test scale but fatal at
corpus scale, so it is asserted, not assumed.
"""

import os

import pytest
from pyspark.sql import functions as F

from prometheus_spark.storage import samples_from_rows, write_samples


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A partitioned on-disk samples store (t_bucket + name layout)."""
    path = str(tmp_path_factory.mktemp("samples") / "store")
    rows = []
    for h in range(6):  # 6 two-hour buckets
        for name in ("http_requests_total", "node_load1"):
            for i in range(3):
                rows.append(
                    ({"__name__": name, "instance": str(i)},
                     h * 7_200_000 + 60_000, float(h * 10 + i))
                )
    write_samples(samples_from_rows(spark, rows), path)
    return path


def test_name_filter_prunes_partitions(spark, store):
    """A metric-name equality predicate must prune the name= partition
    directories (the postings-index role of the layout)."""
    from prometheus_spark.storage import read_samples

    df = read_samples(spark, store).filter(
        F.col("name") == "http_requests_total"
    )
    plan = _plan(df)
    # partition filter on the name partition column, not a post-scan filter
    assert "PartitionFilters" in plan
    assert "http_requests_total" in plan
    # the pruned scan must not read node_load1 rows at all
    assert df.count() == 18
    # files actually read during execution (inputFiles() reports the
    # unpruned relation) — every one is in the name= partition
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("name=http_requests_total" in f for f in files)


def test_time_filter_prunes_buckets(spark, store):
    from prometheus_spark.storage import read_samples

    df = read_samples(spark, store).filter(F.col("t_bucket") == 2)
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("t_bucket=2" in f for f in files)


def test_float_path_has_no_python(spark):
    """sum by (rate()) — the headline shape — must contain no Python
    evaluation operator: the float hot path is JVM-only."""
    from prometheus_spark.engine import PromQLEngine

    rows = [({"__name__": "m", "i": str(i)}, t * 10_000, float(t))
            for t in range(10) for i in range(3)]
    # a float-only store (no hist column), the bench/ingest shape — the
    # engine then plans no histogram branch at all
    samples = samples_from_rows(spark, rows).drop("hist")
    eng = PromQLEngine(spark, samples)
    df = eng.instant_query("sum by (i) (rate(m[1m]))", 100_000)
    plan = _plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "PythonUDF"):
        assert marker not in plan, f"Python operator {marker} in float path"


def test_float_frame_with_hist_column_skips_kind_routing(spark):
    """A float-only frame that still carries the (all-NULL) ``hist``
    column — every ``samples_from_rows``/remote-write spool frame — must
    plan neither a float/histogram kind-flag Window nor a Python stage:
    the engine's series-dim init job already knows no histogram exists."""
    from prometheus_spark.engine import PromQLEngine

    rows = [({"__name__": "x", "l": str(i % 2), "i": str(i)},
             t * 10_000, float(t + i))
            for t in range(60) for i in range(4)]
    samples = samples_from_rows(spark, rows)
    assert "hist" in samples.columns
    eng = PromQLEngine(spark, samples)
    for q in ("sum_over_time(x[30s])", "sum by (l) (rate(x[5m]))"):
        # range/step 5 keeps rate on the (JVM) explode path
        plan = _plan(eng.range_query(q, 300_000, 590_000, 60_000))
        # kind flags are max() windows (rate's reset window is a lag())
        kind_windows = [
            ln for ln in plan.splitlines() if "Window [" in ln and "max(" in ln
        ]
        assert not kind_windows, (q, kind_windows)
        for marker in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                       "MapInPandas", "BatchEvalPython", "PythonUDF"):
            assert marker not in plan, (q, marker)


def test_binop_join_not_cartesian(spark):
    """Vector-matching binary ops are signature equi-joins — the plan
    must use a hash or sort-merge join, never cartesian/BNL."""
    from prometheus_spark.engine import PromQLEngine

    rows = []
    for i in range(4):
        rows.append(({"__name__": "a", "i": str(i)}, 0, float(i)))
        rows.append(({"__name__": "b", "i": str(i)}, 0, float(i + 1)))
    eng = PromQLEngine(spark, samples_from_rows(spark, rows))
    df = eng.instant_query("a / on(i) b", 0)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)
    assert df.count() == 4


def test_selector_no_cross_join_with_grid(spark):
    """The lookback selector explodes serve-intervals instead of
    cross-joining series x grid: no cartesian operator even for a
    1000-step range query."""
    from prometheus_spark.engine import PromQLEngine

    rows = [({"__name__": "m", "i": str(i)}, t * 10_000, float(t))
            for t in range(20) for i in range(3)]
    eng = PromQLEngine(spark, samples_from_rows(spark, rows))
    df = eng.range_query("m", 0, 1_000_000, 1_000)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_pipeline_dedup_single_shuffle(spark):
    """exact_dedup = one hash aggregation: exactly one exchange in the
    distinct/groupBy and no join back against the full text column."""
    from prometheus_spark.pipeline import exact_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i % 5}") for i in range(50)], ["doc_id", "text"]
    )
    plan = _plan(exact_dedup(docs))
    # shape: (hash,id)-only aggregation shuffle + id-keyed semi-join —
    # the wide text column never enters the content-hash exchange
    assert plan.count("Exchange") <= 3
    assert "CartesianProduct" not in plan
    import re
    hash_exchange = re.search(
        r"Exchange hashpartitioning\(content_hash[^\n]*\n[^\n]*", plan
    )
    assert hash_exchange and "text" not in hash_exchange.group(0)


def test_hot_label_pushdown(spark, tmp_path):
    """write_samples(hot_labels=...) extracts label columns; equality
    matchers on them reach the parquet scan as PushedFilters instead of
    post-scan element_at evaluation."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import read_samples

    rows = []
    for job in ("api", "web"):
        for t in range(4):
            rows.append(
                ({"__name__": "m", "job": job, "i": "0"},
                 t * 60_000, float(t))
            )
    path = str(tmp_path / "hot")
    write_samples(samples_from_rows(spark, rows), path,
                  hot_labels=("job",))
    eng = PromQLEngine(spark, read_samples(spark, path))
    df = eng.instant_query('m{job="api"}', 180_000)
    plan = _plan(df)
    assert "__hot_job" in plan.split("PushedFilters")[1].split("]")[0]
    got = df.collect()
    assert len(got) == 1 and got[0]["labels"]["job"] == "api"


def test_labels_endpoint_reads_series_dim_not_samples(spark, tmp_path):
    """With a series-dimension table wired, the metadata endpoints'
    scoped frame must scan the DIM parquet, never the samples store —
    the postings-index contract at 100 TB (verdict task #5)."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import (
        read_samples,
        samples_from_rows,
        write_samples,
    )
    from prometheus_spark.storage.series_dim import read_series_dim
    from prometheus_spark.web.api import PromAPI

    samples_path = str(tmp_path / "samples")
    dim_path = str(tmp_path / "series_dim")
    rows = [
        ({"__name__": "m1", "job": "a"}, 1_000, 1.0),
        ({"__name__": "m1", "job": "a"}, 900_000, 2.0),
        ({"__name__": "m2", "job": "b"}, 5_000, 3.0),
    ]
    write_samples(
        samples_from_rows(spark, rows), samples_path,
        series_dim_path=dim_path,
    )
    api = PromAPI(PromQLEngine(spark, read_samples(spark, samples_path)))
    api.series_dim = read_series_dim(spark, dim_path)

    df, err = api._scoped_samples(
        {"match[]": ["m1"], "start": ["0.5"], "end": ["10"]}
    )
    assert err is None
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scan reads the dim table's schema (min_t/max_t presence range),
    # not the samples store's (t/value) — and the dim filters push down
    assert "min_t" in plan and "max_t" in plan
    assert "value:double" not in plan and "t:bigint" not in plan.replace(
        "min_t:bigint", ""
    ).replace("max_t:bigint", "")

    # and the answers are right: m1's range [1s, 900s] overlaps [0.5s,10s]
    code, resp = api.series({"match[]": ["m1"], "start": ["0.5"], "end": ["10"]})
    assert code == 200 and resp["data"] == [{"__name__": "m1", "job": "a"}]
    code, resp = api.labels({})
    assert code == 200 and resp["data"] == ["__name__", "job"]
    code, resp = api.label_values("job", {})
    assert code == 200 and resp["data"] == ["a", "b"]
    # a time window past every series' max_t matches nothing
    code, resp = api.series({"match[]": ["m1"], "start": ["100000"]})
    assert code == 200 and resp["data"] == []


def test_series_dim_merge_widens_ranges(spark, tmp_path):
    """Second write_samples batch folds into the dim table: ranges widen,
    new series appear, no duplicate sigs."""
    from prometheus_spark.storage import samples_from_rows, write_samples
    from prometheus_spark.storage.series_dim import read_series_dim

    dim_path = str(tmp_path / "dim")
    write_samples(
        samples_from_rows(spark, [({"__name__": "m", "k": "1"}, 1_000, 1.0)]),
        str(tmp_path / "s1"), series_dim_path=dim_path,
    )
    write_samples(
        samples_from_rows(
            spark,
            [({"__name__": "m", "k": "1"}, 99_000, 2.0),
             ({"__name__": "m", "k": "2"}, 5_000, 3.0)],
        ),
        str(tmp_path / "s2"), series_dim_path=dim_path,
    )
    dim = {r["labels"]["k"]: r for r in read_series_dim(spark, dim_path).collect()}
    assert len(dim) == 2
    assert dim["1"]["min_t"] == 1_000 and dim["1"]["max_t"] == 99_000
    assert dim["2"]["min_t"] == 5_000 and dim["2"]["max_t"] == 5_000


def test_decontaminate_broadcasts_benchmark(spark):
    """decontaminate must broadcast the (small) benchmark gram set —
    never shuffle or self-join the training corpus."""
    from prometheus_spark.pipeline import decontaminate

    train = spark.createDataFrame(
        [(i, f"some training document number {i} with many words here")
         for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("benchmark question text that is long enough to gram",)],
        "text string",
    )
    plan = _plan(decontaminate(train, bench, n=4))
    # the gram-matching join against the benchmark set is the one that
    # must broadcast (training grams are the 100 TB side); the final
    # doc-id anti-join may legitimately sort-merge — the contaminated
    # set is not guaranteed small under adversarial overlap
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_cross_corpus_dedup_antijoin_on_hash(spark):
    """The corpus side of cross_corpus_exact_dedup reduces to content
    hashes before the anti-join — the wide text column must not appear
    in the join keys (only md5 output does)."""
    from prometheus_spark.pipeline import cross_corpus_exact_dedup

    new = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame([(9, "aaa")], "doc_id long, text string")
    df = cross_corpus_exact_dedup(new, corpus)
    plan = _plan(df)
    assert "LeftAnti" in plan and "content_hash" in plan
    assert df.count() == 1  # "aaa" already in the corpus


def test_series_limit_pushed_into_plan(spark, tmp_path):
    """A limited /series plan must carry a GlobalLimit below the collect
    (SelectHints.Limit, storage/interface.go:214) — a broad match[] at
    high cardinality may not materialize every series on the driver."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import (
        read_samples,
        samples_from_rows,
        write_samples,
    )
    from prometheus_spark.storage.series_dim import read_series_dim
    from prometheus_spark.web.api import PromAPI

    samples_path = str(tmp_path / "samples")
    dim_path = str(tmp_path / "series_dim")
    rows = [
        ({"__name__": "m1", "job": f"j{i}"}, 1_000, float(i)) for i in range(8)
    ]
    write_samples(
        samples_from_rows(spark, rows), samples_path, series_dim_path=dim_path
    )
    api = PromAPI(PromQLEngine(spark, read_samples(spark, samples_path)))
    api.series_dim = read_series_dim(spark, dim_path)

    df, err = api._scoped_samples({"match[]": ["m1"]}, require_match=True)
    assert err is None
    limited = api._push_limit(
        {"limit": ["3"]}, df.select("sig", "labels").dropDuplicates(["sig"])
    )
    plan = limited._jdf.queryExecution().executedPlan().toString()
    assert "GlobalLimit 4" in plan or "CollectLimit 4" in plan

    # functional: 8 matching series, limit=3 -> 3 rows + warning
    code, resp = api.series({"match[]": ["m1"], "limit": ["3"]})
    assert code == 200 and len(resp["data"]) == 3
    assert resp.get("warnings") == ["results truncated due to limit"]
    # labels/label_values take the same pushdown
    code, resp = api.label_values("job", {"limit": ["2"]})
    assert code == 200 and len(resp["data"]) == 2
    assert resp.get("warnings") == ["results truncated due to limit"]
    code, resp = api.labels({"limit": ["1"]})
    assert code == 200 and resp["data"] == ["__name__"]


def _map_only_plan_ok(plan):
    """A map-only pipeline operator may carry AT MOST the explicit
    `_spread` repartition (tagged REPARTITION_BY_NUM) that parallelizes
    under-split single-file inputs — never a hash exchange introduced by
    an aggregation/join, and never a Python eval node."""
    import re

    for ex in re.findall(r"Exchange [^\n]*", plan):
        assert "REPARTITION_BY_NUM" in ex, plan
    assert "EvalPython" not in plan, plan


def test_curation_map_only_ops_no_shuffle(spark, tmp_path):
    """pii_redact and chunk_documents are scan→project passes: at 100 TB
    they must not shuffle (the only exchange ever allowed is the explicit
    `_spread` of an under-split input, a no-op on multi-file inputs) and
    must not enter Python (no BatchEvalPython / ArrowEvalPython)."""
    from prometheus_spark.pipeline import chunk_documents, pii_redact

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"word{i} the quick fox {i}") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    for df in (pii_redact(docs), chunk_documents(docs, 8, 2)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        _map_only_plan_ok(plan)

    # corpus-scale layout (splits >= defaultParallelism): _spread is a
    # no-op and the plan has NO exchange at all
    wide = str(tmp_path / "docs_wide")
    spark.createDataFrame(
        [(i, f"word{i} the quick fox {i}") for i in range(64)],
        "doc_id long, text string",
    ).repartition(16).write.parquet(wide)
    docs_wide = spark.read.parquet(wide)
    for df in (pii_redact(docs_wide), chunk_documents(docs_wide, 8, 2)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_pack_sequences_single_shard_exchange(spark, tmp_path):
    """pack_sequences with a shard column is one hash exchange on the
    shard key feeding the window prefix-sum — not a global single
    partition sort."""
    from prometheus_spark.pipeline import pack_sequences

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b c", f"lang{i % 3}") for i in range(30)],
        "doc_id long, text string, lang string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    plan = pack_sequences(docs, 16, shard_col="lang")._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # no global (single-partition) exchange when sharded
    assert "Exchange SinglePartition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_temperature_mix_broadcasts_rates(spark, tmp_path):
    """temperature_mix joins the per-source rate table (|sources| rows)
    as a broadcast; document rows must not shuffle for the keep filter."""
    from prometheus_spark.pipeline import temperature_mix

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(30)],
        "doc_id long, source string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    plan = temperature_mix(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the only exchanges belong to the tiny counts aggregation feeding
    # the broadcast side — the probe (document) side reads straight from
    # the scan into the join
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bigram_lm_no_python_no_cartesian(spark, tmp_path):
    """bigram_lm_score is pure aggregations + joins: no Python in the
    plan, the vocab scalar rides a broadcast, no cartesian product."""
    from prometheus_spark.pipeline import bigram_lm_score

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    plan = bigram_lm_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row vocab scalar


def test_semantic_dedup_seed_side_broadcast(spark):
    """semantic_dedup's cluster assignment joins an n_clusters-row seed
    table — that join must broadcast (the embedding table is the 100 TB
    side), and nothing in the plan enters Python."""
    from prometheus_spark.pipeline import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = semantic_dedup(emb, n_clusters=4, threshold=0.99)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_dsir_scoring_broadcasts_ratio_table(spark, tmp_path):
    """dsir_weights joins exploded doc features against the
    n_buckets-row log-ratio table — that join must broadcast (the
    feature stream is the 100 TB side) and stay UDF-free."""
    from prometheus_spark.pipeline import dsir_weights

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    plan = dsir_weights(docs, docs.limit(10))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_c4_clean_map_only(spark, tmp_path):
    """c4_clean is a pure per-row projection: the only exchange allowed
    is the explicit `_spread` of an under-split input, and the scan
    prunes to the (doc_id, text) columns."""
    from prometheus_spark.pipeline import c4_clean

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "A good line.", "en", "s", 12) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    qe = c4_clean(docs)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    _map_only_plan_ok(plan)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_gopher_quality_map_only(spark, tmp_path):
    """gopher_quality is a pure per-row projection: no exchange beyond
    the explicit `_spread`, no Python, and the scan prunes to
    (doc_id, text)."""
    from prometheus_spark.pipeline import gopher_quality

    path = str(tmp_path / "gq_docs")
    spark.createDataFrame(
        [(i, "the cat sat with that and of be to have", "en", "s", 40)
         for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    qe = gopher_quality(docs)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    _map_only_plan_ok(plan)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_streaming_windowed_stats_batch_single_shuffle(spark, tmp_path):
    """On a batch frame the windowed-stats plan is one keyed aggregation:
    a partial aggregate below a single exchange (map-side combine), no
    Python, no extra shuffle for the window projection."""
    from prometheus_spark.streaming import streaming_windowed_stats

    path = str(tmp_path / "win_ev")
    spark.sql(
        "SELECT id AS sig_id, timestamp_seconds(1704067200 + id * 60) AS ts,"
        " CAST(id AS DOUBLE) AS value, CAST(id % 3 AS STRING) AS sig"
        " FROM range(100)"
    ).write.parquet(path)
    ev = spark.read.parquet(path).select("sig", "ts", "value")

    plan = streaming_windowed_stats(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_classic_histogram_plan_size_bounded(spark):
    """Scale guard: the classic histogram_quantile plan must stay a
    bounded expression tree — a blowup here is invisible on tiny data
    but multiplies driver analysis cost and memory at query volume."""
    from prometheus_spark.engine import PromQLEngine

    rows = []
    for s in range(4):
        for le in ("0.1", "1", "10", "+Inf"):
            rows.append(
                ({"__name__": "d_bucket", "le": le, "i": str(s)},
                 60_000, float(s))
            )
    samples = samples_from_rows(spark, rows)
    eng = PromQLEngine(spark, samples)
    df = eng.instant_query("histogram_quantile(0.9, d_bucket)", 120_000)
    # optimizedPlan treeString length as a cheap proxy for node count
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    assert len(tree) < 200_000, f"plan blew up: {len(tree)} chars"


def test_minhash_candidates_plan_shape(spark):
    """Pin the round-7 minhash plan: stats via partial-agg groupBy with
    the annotate join's exchange shared (persist AFTER the join — an
    InMemoryRelation drops output partitioning, so persisting the banded
    frame before the join forced both sides to re-shuffle: measured 2x
    at bench scale).  Also: no window over the bucket (a mega-bucket
    would buffer in one task), no cartesian, and the wide text column
    never travels through an exchange."""
    import re

    from prometheus_spark.pipeline import minhash_dup_candidates_portable
    from prometheus_spark.pipeline.dedup import STAR_THRESHOLD

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} x{i % 3} common words here {i % 2}") for i in range(60)],
        ["doc_id", "text"],
    )
    df = minhash_dup_candidates_portable(
        docs, shingle_n=2, star_threshold=STAR_THRESHOLD
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # skew contract: stats are aggregated, not windowed
    # one persisted frame, placed after the annotate join
    assert plan.count("InMemoryTableScan") >= 2  # small + star read the cache
    # exchange budget: the r13 explode+MIN-agg signature build adds one
    # groupBy(id) exchange per TEXTUAL occurrence of the banded subtree
    # (the pre-persist plan text duplicates it under the stats agg and
    # the annotate join; at runtime the persist + exchange reuse execute
    # the signature pipeline once).  Budget = old 9 + one sig-agg per
    # duplicated subtree; a regression re-adding per-side signature
    # builds or a window over the bucket would still exceed this.
    assert plan.count("Exchange hashpartitioning") <= 15, plan
    for ex in re.findall(r"Exchange hashpartitioning[^\n]*\n[^\n]*", plan):
        assert "text" not in ex  # wide column stays at the scan
    df.count()  # plan must actually execute


def test_ngram_jaccard_plan_shape(spark):
    """Pin the round-7 jaccard plan: gram document-frequency via
    partial-agg groupBy (skew-proof for stop-word grams) + ONE streaming
    1:N annotate join, persisted after the join; no window over the
    gram key; no cartesian; gram-hash exchanges carry longs, never the
    text column."""
    import re

    from prometheus_spark.pipeline import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} x{i % 3} common words here {i % 2}") for i in range(60)],
        ["doc_id", "text"],
    )
    df = ngram_jaccard_pairs(docs, n=2, threshold=0.1)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # rare_inv + summary read the cache
    assert plan.count("Exchange hashpartitioning") <= 15, plan
    for ex in re.findall(r"Exchange hashpartitioning[^\n]*\n[^\n]*", plan):
        assert "text" not in ex
    df.count()
