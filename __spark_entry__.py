"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a training-data-pipeline operator) against the driver's synthetic
tables; ``oracle_sql()`` holds the value-equivalent DuckDB SQL.  PromQL
operators run through the real engine (parse → plan → Catalyst) over the
``events`` table adapted to the canonical samples layout.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# shared constants — must match the SQL oracles verbatim
T0_MS = 1_705_708_800_000  # 2024-01-20 00:00:00 UTC
LOOKBACK_MS = 3 * 86_400_000  # instant-vector lookback for event data
RANGE_7D = "7d"
RANGE_7D_MS = 7 * 86_400_000


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # workers must import prometheus_spark closures
    # the events table carries TIMESTAMP(NANOS) which Spark rejects unless
    # read as long; normalize back to a timestamp column (µs precision)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # epoch-ms extraction and date_trunc must agree with the DuckDB oracle's
    # naive-UTC reading of the same parquet timestamps
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read via nanosAsLong
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            # µs-precision parquet reads as NTZ; session TZ is UTC so the
            # cast is an exact epoch identity (unix_millis requires TIMESTAMP)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SAMPLES_CACHE: dict[str, DataFrame] = {}
_ENGINE_CACHE: dict = {}


def _engine(spark: SparkSession, sf_dir: str, lookback_ms: int = LOOKBACK_MS):
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import samples_from_events

    key = sf_dir
    if key not in _SAMPLES_CACHE:
        _SAMPLES_CACHE[key] = samples_from_events(
            spark, _tbl(spark, sf_dir, "events")
        ).cache()
    ekey = (sf_dir, lookback_ms)
    if ekey not in _ENGINE_CACHE:
        _ENGINE_CACHE[ekey] = PromQLEngine(
            spark, _SAMPLES_CACHE[key], lookback_ms=lookback_ms
        )
    return _ENGINE_CACHE[ekey]


def _promql_instant(spark, sf_dir, query, round_to=None, lookback_ms=LOOKBACK_MS):
    """Run an instant query and flatten to (user_id, value)."""
    df = _engine(spark, sf_dir, lookback_ms).instant_query(query, T0_MS)
    val = F.round(F.col("value"), round_to) if round_to is not None else F.col("value")
    return df.select(
        F.element_at("labels", "user_id").alias("user_id"), val.alias("value")
    )


# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-user purchase rate (counter-rate semantics with
    extrapolation) at sf0.001."""
    return _promql_instant(
        spark, "/root/testdata/sf0.001", f"rate(purchase[{RANGE_7D}])", round_to=10
    )


# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- PromQL: selectors / lookback (SURVEY §2.1) ----------------------
    q["promql_instant_selector"] = lambda s, d: _promql_instant(s, d, "purchase")
    # UTF-8 quoted metric-name shorthand (generated_parser.y:814) —
    # same result set as the bare-name selector
    q["promql_quoted_name"] = lambda s, d: _promql_instant(s, d, '{"purchase"}')
    q["promql_offset"] = lambda s, d: _promql_instant(s, d, "purchase offset 1d")
    q["promql_absent"] = lambda s, d: _engine(s, d).instant_query(
        'absent(no_such_metric{user_id="42"})', T0_MS
    ).select(F.element_at("labels", "user_id").alias("user_id"), F.col("value"))

    # --- PromQL: aggregations (§2.3) -------------------------------------
    q["promql_sum_by"] = lambda s, d: _promql_instant(
        s, d, 'sum by (user_id) ({__name__=~"purchase|click"})', round_to=6
    )
    q["promql_agg_global"] = lambda s, d: _engine(s, d).instant_query(
        "sum(purchase) + min(purchase) + max(purchase) + count(purchase)", T0_MS
    ).select(F.round("value", 6).alias("value"))
    q["promql_quantile_agg"] = lambda s, d: _engine(s, d).instant_query(
        "quantile(0.9, purchase)", T0_MS
    ).select(F.round("value", 6).alias("value"))
    q["promql_topk"] = lambda s, d: _promql_instant(
        s, d, 'topk(3, sum by (user_id) ({__name__=~"purchase|click"}))', round_to=6
    )
    q["promql_count_by"] = lambda s, d: _engine(s, d).instant_query(
        'count by (__name__) ({__name__=~".+"})', T0_MS
    ).select(F.element_at("labels", "__name__").alias("etype"), F.col("value"))
    q["promql_count_values"] = lambda s, d: _engine(s, d).instant_query(
        f'count_values("nchanges", changes(purchase[{RANGE_7D}]))', T0_MS
    ).select(F.element_at("labels", "nchanges").alias("nchanges"), F.col("value"))

    # --- PromQL: binary ops / vector matching (§2.2) ---------------------
    q["promql_binop_div"] = lambda s, d: _promql_instant(
        s, d, "purchase / on(user_id) click", round_to=8
    )
    q["promql_binop_filter"] = lambda s, d: _promql_instant(s, d, "purchase > 100")
    q["promql_set_and"] = lambda s, d: _promql_instant(s, d, "purchase and click")
    q["promql_set_unless"] = lambda s, d: _promql_instant(
        s, d, "purchase unless (purchase > 100)"
    )

    # --- PromQL: rate family / over_time (§2.4) --------------------------
    q["promql_rate"] = lambda s, d: _promql_instant(
        s, d, f"rate(purchase[{RANGE_7D}])", round_to=10
    )
    q["promql_increase"] = lambda s, d: _promql_instant(
        s, d, f"increase(purchase[{RANGE_7D}])", round_to=6
    )
    q["promql_delta"] = lambda s, d: _promql_instant(
        s, d, f"delta(signup[{RANGE_7D}])", round_to=6
    )
    q["promql_idelta"] = lambda s, d: _promql_instant(
        s, d, f"idelta(purchase[{RANGE_7D}])", round_to=6
    )
    q["promql_changes"] = lambda s, d: _promql_instant(
        s, d, f"changes(purchase[{RANGE_7D}])"
    )
    q["promql_resets"] = lambda s, d: _promql_instant(
        s, d, f"resets(purchase[{RANGE_7D}])"
    )
    q["promql_count_over_time"] = lambda s, d: _promql_instant(
        s, d, f"count_over_time(purchase[{RANGE_7D}])"
    )
    q["promql_avg_over_time"] = lambda s, d: _promql_instant(
        s, d, f"avg_over_time(purchase[{RANGE_7D}])", round_to=6
    )
    q["promql_minmax_over_time"] = lambda s, d: _engine(s, d).instant_query(
        f"max_over_time(purchase[{RANGE_7D}]) - min_over_time(purchase[{RANGE_7D}])",
        T0_MS,
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        F.round("value", 6).alias("value"),
    )
    q["promql_quantile_over_time"] = lambda s, d: _promql_instant(
        s, d, f"quantile_over_time(0.5, purchase[{RANGE_7D}])", round_to=6
    )
    q["promql_deriv"] = lambda s, d: _promql_instant(
        s, d, f"deriv(purchase[{RANGE_7D}])", round_to=12
    )
    q["promql_math_fn"] = lambda s, d: _promql_instant(
        s, d, "clamp(sqrt(abs(purchase)), 2, 12)", round_to=8
    )
    q["promql_label_join"] = lambda s, d: _engine(s, d).instant_query(
        'label_join(purchase, "key", "-", "user_id", "__name__")', T0_MS
    ).select(F.element_at("labels", "key").alias("key"), F.col("value"))
    q["promql_set_or"] = lambda s, d: _engine(s, d).instant_query(
        "purchase or click", T0_MS
    ).select(
        F.element_at("labels", "__name__").alias("etype"),
        F.element_at("labels", "user_id").alias("user_id"),
        F.col("value"),
    )
    q["promql_timestamp"] = lambda s, d: _promql_instant(
        s, d, "timestamp(purchase)", round_to=3
    )
    q["promql_stddev_agg"] = lambda s, d: _engine(s, d).instant_query(
        "stddev(purchase) + stdvar(purchase) + avg(purchase)", T0_MS
    ).select(F.round("value", 6).alias("value"))
    q["promql_avg_by"] = lambda s, d: _promql_instant(
        s, d, 'avg by (user_id) ({__name__=~"purchase|click"})', round_to=6
    )
    q["promql_clamp"] = lambda s, d: _promql_instant(
        s, d, "clamp(purchase, 50, 200)", round_to=6
    )
    q["promql_ts_of_max"] = lambda s, d: _promql_instant(
        s, d, f"ts_of_max_over_time(purchase[{RANGE_7D}])", round_to=3
    )
    q["promql_limitk"] = lambda s, d: _promql_instant(s, d, "limitk(5, purchase)")
    q["promql_limit_ratio_complement"] = lambda s, d: _engine(s, d).instant_query(
        "count(limit_ratio(0.4, purchase) or limit_ratio(-0.6, purchase))", T0_MS
    ).select(F.col("value"))
    q["promql_absent_over_time"] = lambda s, d: _engine(s, d).instant_query(
        "absent_over_time(no_such_metric[1h])", T0_MS
    ).select(F.col("value"))
    q["promql_subquery_max"] = lambda s, d: _engine(s, d).instant_query(
        "max_over_time((sum by (user_id) (purchase))[2h:30m])", T0_MS
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        F.round("value", 6).alias("value"),
    )
    q["promql_start_timestamp"] = _promql_start_timestamp

    # --- PromQL: modifiers / matching / more functions (§2.1-2.4) --------
    q["promql_at_modifier"] = lambda s, d: _promql_instant(
        s, d, f"purchase @ {(T0_MS - 86_400_000) / 1000:.3f}"
    )
    q["promql_offset_negative"] = lambda s, d: _promql_instant(
        s, d, "purchase offset -1d"
    )
    q["promql_unary_neg"] = lambda s, d: _promql_instant(s, d, "-purchase")
    q["promql_bool_cmp"] = lambda s, d: _promql_instant(
        s, d, "purchase >= bool 100"
    )
    q["promql_group_agg"] = lambda s, d: _promql_instant(
        s, d, "group by (user_id) (purchase)"
    )
    q["promql_atan2_binop"] = lambda s, d: _promql_instant(
        s, d, "purchase atan2 click", round_to=8
    )
    q["promql_group_left"] = _promql_group_left
    q["promql_label_replace"] = lambda s, d: _engine(s, d).instant_query(
        r'label_replace(purchase, "grp", "g$1", "user_id", "(\\d).*")', T0_MS
    ).select(
        F.element_at("labels", "grp").alias("grp"),
        F.element_at("labels", "user_id").alias("user_id"),
        F.col("value"),
    )
    q["promql_scalar_vector"] = lambda s, d: _engine(s, d).instant_query(
        "vector(scalar(count(purchase)) * 2)", T0_MS
    ).select(F.col("value"))
    q["promql_time_fns"] = lambda s, d: _promql_instant(
        s, d, "hour(timestamp(purchase)) * 100 + minute(timestamp(purchase))"
    )
    q["promql_irate"] = lambda s, d: _promql_instant(
        s, d, f"irate(purchase[{RANGE_7D}])", round_to=8
    )
    q["promql_predict_linear"] = lambda s, d: _promql_instant(
        s, d, f"predict_linear(purchase[{RANGE_7D}], 3600)", round_to=6
    )
    q["promql_sum_last_over_time"] = lambda s, d: _promql_instant(
        s, d,
        f"sum_over_time(purchase[{RANGE_7D}]) + last_over_time(purchase[{RANGE_7D}])",
        round_to=6,
    )
    q["promql_mad_over_time"] = lambda s, d: _promql_instant(
        s, d, f"mad_over_time(purchase[{RANGE_7D}])", round_to=6
    )

    # --- PromQL: range queries (step grid, §2.5) -------------------------
    q["promql_range_selector"] = _promql_range_selector
    q["promql_range_rate"] = _promql_range_rate
    q["promql_range_rate_wide"] = lambda s, d: _promql_range_wide(s, d, "rate", 6)
    q["promql_range_changes_wide"] = lambda s, d: _promql_range_wide(s, d, "changes", 6)
    q["promql_des_wide"] = _promql_des_wide

    # --- PromQL: classic histograms (§2.4) -------------------------------
    q["promql_histogram_quantile_classic"] = lambda s, d: _hist_classic(
        s, d, "histogram_quantile(0.9, purch_bucket)"
    )
    q["promql_histogram_fraction_classic"] = lambda s, d: _hist_classic(
        s, d, "histogram_fraction(25, 250, purch_bucket)"
    )

    # --- sources / sinks round-trips --------------------------------------
    q["federate_roundtrip"] = _federate_roundtrip
    q["openmetrics_ingest"] = _openmetrics_ingest
    q["nhcb_ingest"] = _nhcb_ingest
    q["st_zero_ingestion"] = _st_zero_ingest
    q["doc_url_dedup"] = _pipe_url_dedup
    q["merge_dedupe"] = _merge_dedupe

    # --- TPC-H-ish relational coverage (joins, windows, sort) ------------
    q["tpch_pricing_summary"] = _tpch_pricing
    q["tpch_revenue_by_nation"] = _tpch_revenue
    q["tpch_top_orders_per_segment"] = _tpch_top_orders
    q["events_hourly_stats"] = _events_hourly

    # --- pipeline: text analysis ------------------------------------------
    q["doc_token_count"] = lambda s, d: _pipe_tokens(s, d)
    q["doc_quality_score"] = lambda s, d: _pipe_quality(s, d)
    q["doc_lang_id"] = lambda s, d: _pipe_lang(s, d)
    q["doc_fingerprint"] = lambda s, d: _pipe_fingerprint(s, d)
    q["doc_repetition_ratio"] = lambda s, d: _pipe_repetition(s, d)
    q["doc_topk_ngrams"] = lambda s, d: _pipe_topk_ngrams(s, d)
    q["doc_sample_stratified"] = lambda s, d: _pipe_stratified(s, d)
    q["events_sessionization"] = lambda s, d: _pipe_sessions(s, d)

    # --- pipeline: dedup ----------------------------------------------------
    q["dedup_exact"] = lambda s, d: _pipe_dedup_exact(s, d)
    q["dedup_ngram_jaccard"] = lambda s, d: _pipe_jaccard(s, d)
    q["dedup_clusters"] = lambda s, d: _pipe_clusters(s, d)
    # driver-facing entries use the md5-portable hash family so DuckDB
    # verifies values; the production xxhash64 paths stay the scale
    # default and are bit-equality-tested in tests/test_pipeline.py
    q["dedup_minhash_candidates"] = lambda s, d: _pipe_minhash(s, d)
    q["dedup_repeated_substrings"] = lambda s, d: _pipe_repeated_substrings(s, d)
    q["dedup_simhash"] = lambda s, d: _pipe_simhash(s, d)
    q["dedup_embedding_cosine"] = lambda s, d: _pipe_embed_dup(s, d)
    q["dedup_cross_corpus"] = lambda s, d: _pipe_cross_dedup(s, d)
    q["dedup_decontaminate"] = lambda s, d: _pipe_decontaminate(s, d)

    # --- pipeline: similarity search ---------------------------------------
    q["ann_cosine_topk"] = lambda s, d: _pipe_ann_brute(s, d)
    # probe_all=True → recall=1 by construction, brute-force oracle
    # hash-matches; the pruned multiprobe path is tested in tests/
    q["ann_lsh_topk"] = lambda s, d: _pipe_ann_lsh(s, d)
    # IVF with nprobe=all probes every partition → exact, hash-matchable
    # against the brute-force oracle; the pruned path is tested in
    # tests/test_pipeline.py
    q["ann_ivf_topk"] = lambda s, d: _pipe_ann_ivf(s, d)

    # --- pipeline: multimodal plumbing (rows-only; decode is stubbed) ------
    q["multimodal_features"] = lambda s, d: _pipe_multimodal(s, d)
    q["multimodal_frame_sample"] = lambda s, d: _pipe_frame_sample(s, d)

    # --- pipeline: corpus curation (outside the 50-entry driver window;
    # verified by tools/check_oracles.py, the driver replica) ---------------
    q["doc_pii_redact"] = lambda s, d: _pipe_pii_redact(s, d)
    q["doc_chunks"] = lambda s, d: _pipe_chunks(s, d)
    q["doc_pack_sequences"] = lambda s, d: _pipe_pack_sequences(s, d)
    q["doc_boilerplate_removal"] = lambda s, d: _pipe_boilerplate(s, d)

    # --- pipeline: semantic dedup / LM scoring / span dedup / mixing -------
    q["dedup_semantic"] = lambda s, d: _pipe_semantic_dedup(s, d)
    q["doc_bigram_lm"] = lambda s, d: _pipe_bigram_lm(s, d)
    q["doc_repeated_spans"] = lambda s, d: _pipe_repeated_spans(s, d)
    q["doc_temperature_mix"] = lambda s, d: _pipe_temperature_mix(s, d)
    q["dedup_paragraphs"] = lambda s, d: _pipe_paragraph_dedup(s, d)
    q["doc_subword_stats"] = lambda s, d: _pipe_subword(s, d)
    q["doc_c4_filter"] = lambda s, d: _pipe_c4(s, d)
    q["doc_gopher_quality"] = lambda s, d: _pipe_gopher(s, d)
    q["stream_hourly_stats"] = lambda s, d: _pipe_stream_window(s, d)
    q["tsdb_block_roundtrip"] = lambda s, d: _tsdb_block_roundtrip(s, d)
    q["doc_dsir_weights"] = lambda s, d: _pipe_dsir(s, d)
    q["doc_split_corpus"] = lambda s, d: _pipe_split(s, d)
    q["doc_shard_corpus"] = lambda s, d: _pipe_shard(s, d)
    q["stream_counter_increase"] = lambda s, d: _pipe_stream_increase(s, d)
    q["events_session_window"] = lambda s, d: _pipe_session_window(s, d)

    # The driver records only the FIRST 50 entries in CORRECTNESS_r{N}.json;
    # order so that every §2 family and every pipeline operator has a
    # representative inside that window (remaining PromQL variants follow).
    ordered = {k: q[k] for k in _DRIVER_WINDOW if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


# One representative per family first (must stay ≤50 names): range queries,
# classic histograms, sources round-trips, TPC-H, events, text/dedup/ANN/
# multimodal pipeline, then one PromQL entry per operator family.
_DRIVER_WINDOW = [
    # PromQL families (17)
    "promql_instant_selector",
    "promql_sum_by",
    "promql_topk",
    "promql_binop_div",
    # (group_left and subquery rotated out of the 50-entry window in r5
    # to admit doc_c4_filter/doc_dsir_weights — both remain declared
    # below the window, oracle-replica-verified, and corpus-covered)
    "promql_rate",
    # range queries + classic histograms (4)
    "promql_range_selector",
    "promql_range_rate",
    "promql_histogram_quantile_classic",
    # (histogram_fraction rotated out in r5 for the streaming stateful
    # entry — it stays declared below the window, replica-verified, and
    # corpus-covered by histograms 185/185)
    "stream_counter_increase",
    # sources round-trips (4)
    "federate_roundtrip",
    "openmetrics_ingest",
    "nhcb_ingest",
    "merge_dedupe",
    # TPC-H + events (5)
    "tpch_pricing_summary",
    "tpch_revenue_by_nation",
    "tpch_top_orders_per_segment",
    "events_hourly_stats",
    # (events_sessionization rotated out in r5 — green in r3 AND r4; its
    # native session_window successor events_session_window is in-window)
    # text pipeline (3)
    # (lang_id / fingerprint / repetition_ratio / sample_stratified rotated
    # out in r5 to admit doc_split_corpus / doc_shard_corpus /
    # events_session_window / doc_gopher_quality — all rotated-out entries
    # were driver-green in r3 AND r4 and remain declared below the window
    # and oracle-replica-verified)
    "doc_token_count",
    "doc_quality_score",
    "doc_topk_ngrams",
    # dedup (6)
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_candidates",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_cross_corpus",
    "dedup_decontaminate",
    # ANN (3)
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    # multimodal (1; frame_sample rotated out in r5 — green in r3 AND
    # r4 — to admit tsdb_block_roundtrip)
    "multimodal_features",
    # curation (4)
    "doc_pii_redact",
    "doc_chunks",
    "doc_pack_sequences",
    "doc_boilerplate_removal",
    # semantic dedup / LM scoring / span dedup / mixing (4)
    "dedup_semantic",
    "doc_bigram_lm",
    "doc_repeated_spans",
    "doc_temperature_mix",
    "dedup_paragraphs",
    "doc_subword_stats",
    "doc_c4_filter",
    "doc_dsir_weights",
    "doc_gopher_quality",
    "stream_hourly_stats",
    "tsdb_block_roundtrip",
    # splits / sharding / native session windows (3, new in r5)
    "doc_split_corpus",
    "doc_shard_corpus",
    "events_session_window",
]


# ---------------------------------------------------------------------------
def _promql_start_timestamp(spark, sf_dir):
    """Samples with synthetic start timestamps (st = t − user_id·1000 ms):
    start_timestamp() returns the instant sample's ST in seconds."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import samples_from_events

    samples = samples_from_events(spark, _tbl(spark, sf_dir, "events")).withColumn(
        "st",
        (
            F.col("t")
            - F.element_at("labels", "user_id").cast("long") * F.lit(1000)
        ).cast("long"),
    )
    eng = PromQLEngine(spark, samples, lookback_ms=LOOKBACK_MS)
    return eng.instant_query("start_timestamp(purchase)", T0_MS).select(
        F.element_at("labels", "user_id").alias("user_id"),
        F.round("value", 3).alias("value"),
    )


def _promql_group_left(spark, sf_dir):
    """Many-to-one vector matching: purchase series (labels user_id+parity)
    multiplied against a per-parity click sum — group_left keeps the full
    left labelset (reference vector matching, promql/engine.go binop path)."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.storage import samples_from_events

    ev = _tbl(spark, sf_dir, "events").withColumn(
        "parity", (F.col("user_id") % 2).cast("string")
    )
    samples = samples_from_events(
        spark, ev, label_cols=("user_id", "parity")
    )
    eng = PromQLEngine(spark, samples, lookback_ms=LOOKBACK_MS)
    return eng.instant_query(
        "purchase * on(parity) group_left sum by (parity) (click)", T0_MS
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        F.element_at("labels", "parity").alias("parity"),
        F.round("value", 4).alias("value"),
    )


def _promql_range_selector(spark, sf_dir):
    """Range query: 5-step daily grid, instant-selector semantics at each
    step (lookback within each)."""
    return _engine(spark, sf_dir).range_query(
        "purchase", T0_MS - 4 * 86_400_000, T0_MS, 86_400_000
    ).select(
        F.element_at("labels", "user_id").alias("user_id"), "t", "value"
    )


def _promql_range_rate(spark, sf_dir):
    """Range query over rate(): per-step extrapolated counter rate."""
    return _engine(spark, sf_dir).range_query(
        f"rate(purchase[{RANGE_7D}])", T0_MS - 2 * 86_400_000, T0_MS, 86_400_000
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        "t",
        F.round("value", 10).alias("value"),
    )


def _promql_range_wide(spark, sf_dir, fn, round_to):
    """Wide range/step ratio (7d window, 1h step → ratio 168): exercises
    the prefix fold (range_functions._prefix_fold)
    under the driver's correctness gate."""
    return _engine(spark, sf_dir).range_query(
        f"{fn}(purchase[{RANGE_7D}])", T0_MS - 2 * 86_400_000, T0_MS, 3_600_000
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        "t",
        F.round("value", round_to).alias("value"),
    )


def _promql_des_wide(spark, sf_dir):
    """double_exponential_smoothing at wide range/step ratio (168 ≥ the
    gate threshold): exercises the as-of Arrow fast path
    (range_functions._des_fold) under the driver's correctness gate;
    the DuckDB oracle replays the recurrence as a recursive CTE with the
    identical IEEE op order."""
    return _engine(spark, sf_dir).range_query(
        f"double_exponential_smoothing(purchase[{RANGE_7D}], 0.3, 0.2)",
        T0_MS - 2 * 86_400_000, T0_MS, 3_600_000,
    ).select(
        F.element_at("labels", "user_id").alias("user_id"),
        "t",
        F.round("value", 6).alias("value"),
    )


_HIST_LES = (25.0, 100.0, 250.0)  # +Inf appended by the builder


def _hist_classic(spark, sf_dir, query):
    """Classic le-bucket histogram built distributedly from purchase events
    in the instant lookback window: cumulative counts per (user_id, le)."""
    from prometheus_spark.engine import PromQLEngine
    from prometheus_spark.model.labels import sig_expr

    ev = _tbl(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & (F.unix_millis(F.col("ts")) > F.lit(T0_MS - LOOKBACK_MS))
        & (F.unix_millis(F.col("ts")) <= F.lit(T0_MS))
    )
    aggs = [
        F.sum((F.col("value") <= F.lit(le)).cast("double")).alias(f"c{i}")
        for i, le in enumerate(_HIST_LES)
    ] + [F.count("*").cast("double").alias("cinf")]
    counts = ev.groupBy(F.col("user_id").cast("string").alias("user_id")).agg(*aggs)
    les = [str(le) for le in _HIST_LES] + ["+Inf"]
    pairs = F.array(
        *[
            F.struct(
                F.lit(le).alias("le"),
                F.col(c).alias("value"),
            )
            for le, c in zip(les, [f"c{i}" for i in range(len(_HIST_LES))] + ["cinf"])
        ]
    )
    bucket = F.col("b")
    labels = F.create_map(
        F.lit("__name__"), F.lit("purch_bucket"),
        F.lit("user_id"), F.col("user_id"),
        F.lit("le"), bucket["le"],
    )
    samples = (
        counts.select("user_id", F.explode(pairs).alias("b"))
        .select(
            labels.alias("labels"),
            F.lit("purch_bucket").alias("name"),
            F.lit(T0_MS).alias("t"),
            bucket["value"].alias("value"),
            F.lit(False).alias("stale"),
        )
        .select(
            sig_expr("labels").alias("sig"), "name", "labels", "t", "value", "stale"
        )
    )
    eng = PromQLEngine(spark, samples, lookback_ms=LOOKBACK_MS)
    return eng.instant_query(query, T0_MS).select(
        F.element_at("labels", "user_id").alias("user_id"),
        F.round("value", 6).alias("value"),
    )


def _federate_roundtrip(spark, sf_dir):
    """Federation lines rendered and parsed back — exercises both the
    exposition renderer and the text parser, format-agnostically."""
    from prometheus_spark.sources import federate, parse_exposition_df
    from prometheus_spark.sources.promtext import to_samples
    from prometheus_spark.storage import samples_from_events

    samples = samples_from_events(spark, _tbl(spark, sf_dir, "events"))
    lines = federate(
        samples, [{"__name__": "purchase"}], now_ms=T0_MS, lookback_ms=LOOKBACK_MS
    )
    back = to_samples(parse_exposition_df(lines))
    return back.select(
        "name",
        F.element_at("labels", "user_id").alias("user_id"),
        F.round("value", 6).alias("value"),
        "t",
    )


_OM_BODY = """\
# TYPE http_requests counter
http_requests_total{code="200"} 1027 1700000000
http_requests_total{code="404"} 3 1700000000
# TYPE rpc_seconds histogram
rpc_seconds_bucket{le="0.1"} 2 1700000000
rpc_seconds_bucket{le="1"} 5 1700000000
rpc_seconds_bucket{le="+Inf"} 7 1700000000
rpc_seconds_sum 4.2 1700000000
rpc_seconds_count 7 1700000000
# EOF
"""


def _om_samples(spark):
    from prometheus_spark.sources import parse_openmetrics_df
    from prometheus_spark.sources.promtext import to_samples

    lines = spark.createDataFrame(
        [(line,) for line in _OM_BODY.strip().split("\n")], "line string"
    ).coalesce(1)
    return to_samples(parse_openmetrics_df(lines).drop("created_t"))


def _openmetrics_ingest(spark, sf_dir):
    return _om_samples(spark).select(
        "name",
        F.coalesce(F.element_at("labels", "code"), F.lit("")).alias("code"),
        F.coalesce(F.element_at("labels", "le"), F.lit("")).alias("le"),
        "t",
        "value",
    )


def _nhcb_ingest(spark, sf_dir):
    from prometheus_spark.sources import classic_to_nhcb

    folded = classic_to_nhcb(_om_samples(spark))
    h = F.col("hist")
    return folded.filter(h.isNotNull()).select(
        "name",
        h["count"].alias("hcount"),
        h["sum"].alias("hsum"),
        F.element_at(h["custom_values"], 1).alias("cv1"),
        F.element_at(h["custom_values"], 2).alias("cv2"),
        F.element_at(h["pos_buckets"], 1).alias("b1"),
        F.element_at(h["pos_buckets"], 2).alias("b2"),
        F.element_at(h["pos_buckets"], 3).alias("b3"),
    )


def _st_zero_ingest(spark, sf_dir):
    """ST/created-timestamp zero-ingestion shape (reference
    scrape/scrape.go:1752-1768 enableSTZeroIngestion +
    tsdb/head_append.go:511 AppendSTZeroSample): an OpenMetrics body with
    ``*_created`` series yields one synthetic zero sample at each
    series' start timestamp before the real sample, and the start
    timestamp rides every sample (``st`` column).  Two scrapes with an
    unchanged ST inject the zero only once (the head's OOO-ST no-op)."""
    from prometheus_spark.sources.scrape import maybe_st_zero, parse_scrape_body
    from prometheus_spark.storage import samples_from_rows

    bodies = [
        (60_000, b'# TYPE req counter\nreq_total{job="a"} 10\n'
                 b'req_created{job="a"} 30\nreq_total{job="b"} 5\n'
                 b'req_created{job="b"} 45\n# EOF\n'),
        (120_000, b'# TYPE req counter\nreq_total{job="a"} 17\n'
                  b'req_created{job="a"} 30\nreq_total{job="b"} 6\n'
                  b'req_created{job="b"} 45\n# EOF\n'),
    ]
    st_seen: dict = {}
    rows = []
    for now_ms, body in bodies:
        parsed, _m, _e = parse_scrape_body(
            body, "application/openmetrics-text", now_ms
        )
        for labels, t, v, st in parsed:
            zero = maybe_st_zero(labels, t, v, st, st_seen)
            if zero is not None:
                rows.append(zero)
            rows.append((labels, t, v, st))
    df = samples_from_rows(spark, rows)
    return df.select(
        "name",
        F.element_at("labels", "job").alias("job"),
        "t",
        "value",
        F.col("st").alias("start_ts"),
    )


def _pipe_url_dedup(spark, sf_dir):
    """URL-level dedup (pipeline/urls.py) — the crawl pipeline's first
    dedup stage.  Deterministic messy URLs derived from doc_id/source
    (case variants, www., default port, tracking params, unsorted
    params, fragments, trailing slashes) all normalize to
    https://{source}.example.com/docs/{doc_id%50}?a=1&b=2, then one doc
    per canonical URL survives (longest text, ties by lowest id)."""
    from prometheus_spark.pipeline import url_dedup

    docs = _tbl(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("www."), F.col("source")))
        .otherwise(F.col("source")),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("?utm_source=x&b=2&a=1")
        ).otherwise(F.lit("?a=1&b=2")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    out = url_dedup(
        docs.withColumn("url", url), quality_col="n_chars"
    )
    return out.select("normalized_url", "doc_id")


def _merge_dedupe(spark, sf_dir):
    """Fanout merge: primary (user_id < 60) wins over a conflicting
    secondary carrying value+1000 for every event."""
    from prometheus_spark.storage import merge_samples, samples_from_events

    ev = _tbl(spark, sf_dir, "events")
    primary = samples_from_events(spark, ev.filter(F.col("user_id") < 60))
    secondary = samples_from_events(
        spark, ev.withColumn("value", F.col("value") + F.lit(1000.0))
    )
    merged = merge_samples([primary, secondary])
    return merged.filter(F.col("name") == "purchase").select(
        F.element_at("labels", "user_id").alias("user_id"),
        "t",
        F.round("value", 6).alias("value"),
    )


def _tpch_pricing(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _tpch_revenue(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def _tpch_top_orders(spark, sf_dir):
    from pyspark.sql.window import Window

    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


def _events_hourly(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# --- pipeline wrappers -------------------------------------------------------
def _pipe_tokens(spark, sf_dir):
    from prometheus_spark.pipeline import token_count

    return token_count(_tbl(spark, sf_dir, "documents"))


def _pipe_quality(spark, sf_dir):
    from prometheus_spark.pipeline import quality_score

    return quality_score(_tbl(spark, sf_dir, "documents"))


def _pipe_lang(spark, sf_dir):
    from prometheus_spark.pipeline import lang_id

    return lang_id(_tbl(spark, sf_dir, "documents"))


def _pipe_fingerprint(spark, sf_dir):
    from prometheus_spark.pipeline import fingerprint

    return fingerprint(_tbl(spark, sf_dir, "documents"))


def _pipe_repetition(spark, sf_dir):
    from prometheus_spark.pipeline import repetition_ratio

    return repetition_ratio(_tbl(spark, sf_dir, "documents"))


def _pipe_topk_ngrams(spark, sf_dir):
    from prometheus_spark.pipeline import topk_ngrams

    return topk_ngrams(_tbl(spark, sf_dir, "documents"), k=20, n=2)


def _pipe_stratified(spark, sf_dir):
    from prometheus_spark.pipeline import stratified_sample

    return stratified_sample(
        _tbl(spark, sf_dir, "documents"),
        rates={"en": 0.5, "fr": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang")


def _pipe_sessions(spark, sf_dir):
    from prometheus_spark.pipeline import session_stats

    return session_stats(_tbl(spark, sf_dir, "events"), gap_minutes=30.0)


def _pipe_clusters(spark, sf_dir):
    from prometheus_spark.pipeline import connected_components, ngram_jaccard_pairs

    docs = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = ngram_jaccard_pairs(docs, n=2, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    return connected_components(pairs).select("node", "cluster")


def _pipe_dedup_exact(spark, sf_dir):
    from prometheus_spark.pipeline import exact_dedup

    return exact_dedup(_tbl(spark, sf_dir, "documents")).select("doc_id")


def _pipe_jaccard(spark, sf_dir):
    from prometheus_spark.pipeline import ngram_jaccard_pairs

    # exact all-pairs jaccard is quadratic in gram frequency — bound the
    # oracle-checked entry to a fixed subset; minhash LSH (above) is the
    # full-corpus scale path
    docs = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(docs, n=2, threshold=0.5).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _pipe_repeated_substrings(spark, sf_dir):
    from prometheus_spark.pipeline import repeated_substring_stats

    # Lee et al. exact-substring dedup stats: windows of 5 tokens whose
    # exact text occurs >= 2 times in the corpus
    return repeated_substring_stats(
        _tbl(spark, sf_dir, "documents"), window=5
    )


def _pipe_minhash(spark, sf_dir):
    from prometheus_spark.pipeline import minhash_dup_candidates_portable
    from prometheus_spark.pipeline.dedup import STAR_THRESHOLD

    # the star cap is opt-in (public default is exact all-pairs); this
    # scale entry opts in, and the DuckDB oracle SQL mirrors the cap
    return minhash_dup_candidates_portable(
        _tbl(spark, sf_dir, "documents"), shingle_n=2,
        star_threshold=STAR_THRESHOLD,
    )


def _pipe_simhash(spark, sf_dir):
    from prometheus_spark.pipeline import simhash_64_portable

    return simhash_64_portable(_tbl(spark, sf_dir, "documents"))


def _pipe_embed_dup(spark, sf_dir):
    from prometheus_spark.pipeline import embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    # planes=0 ⇒ single bucket ⇒ exact pairs on the bounded subset, so the
    # brute-force oracle matches value-for-value; the LSH-bucketed scale
    # path is exercised (rows-only) by dedup_minhash/ann_lsh entries
    return embedding_near_dup_pairs(emb, threshold=0.4, planes=0).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def _query_vec(spark, sf_dir):
    row = (
        _tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return list(row["embedding"]) if row else [0.0]


def _pipe_ann_brute(spark, sf_dir):
    from prometheus_spark.pipeline import cosine_topk_bruteforce

    emb = _tbl(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, _query_vec(spark, sf_dir), k=10).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def _pipe_ann_lsh(spark, sf_dir):
    from prometheus_spark.pipeline import lsh_bucketed_topk

    # planes=4 / probe_all → every bucket probed, so the result is exact
    # (brute-force oracle hash-matches) while the bucket-assignment +
    # probe-filter plan is still exercised end-to-end.  Query vec_id=1
    # and k=12 keep the entry distinct from ann_cosine_topk.
    emb = _tbl(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 1).select("embedding").first()
    qv = list(row["embedding"]) if row else [0.0]
    return lsh_bucketed_topk(emb, qv, k=12, planes=4, probe_all=True).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def _pipe_ann_ivf(spark, sf_dir):
    from prometheus_spark.pipeline.similarity import IvfIndex

    emb = _tbl(spark, sf_dir, "embeddings")
    idx = IvfIndex.build(emb, n_centroids=8, iters=1)
    return idx.topk(_query_vec(spark, sf_dir), k=10, nprobe=8).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def _pipe_multimodal(spark, sf_dir):
    """REAL stdlib header decode over genuine PNG/WAV payloads
    (pipeline.multimodal.parse_media_header): the synthesis rules are
    deterministic functions of media_id that the DuckDB oracle mirrors,
    so the parse path is hash-verified end-to-end."""
    from prometheus_spark.pipeline.multimodal import (
        decode_media_headers,
        synthesize_media,
    )

    media = synthesize_media(spark, n=64, kind="mixed")
    # -1 sentinel for not-applicable fields: NULL ints round-trip as NaN
    # through DuckDB→pandas and break the value-hash comparison
    return decode_media_headers(media).select(
        "media_id",
        "mime",
        F.coalesce(F.col("width").cast("long"), F.lit(-1)).alias("width"),
        F.coalesce(F.col("height").cast("long"), F.lit(-1)).alias("height"),
        F.coalesce(F.col("sample_rate").cast("long"), F.lit(-1)).alias(
            "sample_rate"
        ),
        F.coalesce("duration_ms", F.lit(-1)).alias("duration_ms"),
        "parse_ok",
    )


def _pipe_cross_dedup(spark, sf_dir):
    """Incremental-ingest dedup: new batch (doc_id % 2 = 0) against an
    existing corpus (doc_id % 3 = 0) — exact text matches drop, then
    within-batch exact dedup keeps the min id per content hash."""
    from prometheus_spark.pipeline import cross_corpus_exact_dedup

    docs = _tbl(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 3 = 0")
    new = docs.filter("doc_id % 2 = 0")
    return cross_corpus_exact_dedup(new, corpus).select(
        "doc_id", "lang", "n_chars"
    )


def _pipe_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop training docs sharing any distinct
    word 8-gram with the benchmark set (doc_id % 10 = 0) — broadcast
    join against the benchmark gram set, no training-side self-join."""
    from prometheus_spark.pipeline import decontaminate

    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 10 = 0").select("text")
    return decontaminate(docs, bench, n=8).select("doc_id", "n_chars")


def _pipe_frame_sample(spark, sf_dir):
    from prometheus_spark.pipeline.multimodal import frame_sample_plan, synthesize_media

    media = synthesize_media(spark, n=32, kind="video")
    return frame_sample_plan(media, every_ms=500)


# the synthetic documents carry no PII or newlines, so the curation
# entries inject both deterministically — the SAME expression runs in
# Spark and in the DuckDB oracle, keeping the comparison meaningful
_PII_AUGMENT = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || doc_id "
    "|| '@example.com at 10.1.' || (doc_id % 200) || '.9 or 555-01' "
    "|| (doc_id % 90) || '99' ELSE text END"
)
_LINES_AUGMENT = (
    "'shared header' || chr(10) || text || chr(10) || 'footer ' || lang"
)


def _pipe_pii_redact(spark, sf_dir):
    from prometheus_spark.pipeline import pii_redact

    docs = _tbl(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PII_AUGMENT} AS text"
    )
    return pii_redact(docs)


def _pipe_chunks(spark, sf_dir):
    from prometheus_spark.pipeline import chunk_documents

    return chunk_documents(
        _tbl(spark, sf_dir, "documents"), max_tokens=32, overlap=4
    )


def _pipe_pack_sequences(spark, sf_dir):
    from prometheus_spark.pipeline import pack_sequences

    return pack_sequences(
        _tbl(spark, sf_dir, "documents"), seq_len=2048, shard_col="lang"
    )


def _pipe_boilerplate(spark, sf_dir):
    from prometheus_spark.pipeline import remove_boilerplate

    docs = _tbl(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_LINES_AUGMENT} AS text"
    )
    return remove_boilerplate(docs, min_docs=50)


def _pipe_semantic_dedup(spark, sf_dir):
    """SemDeDup: one-shot spherical clustering (8 md5-sampled seed
    centroids) + within-cluster cosine prune at 0.35."""
    from prometheus_spark.pipeline import semantic_dedup

    return semantic_dedup(
        _tbl(spark, sf_dir, "embeddings"), n_clusters=8, threshold=0.35
    )


def _pipe_bigram_lm(spark, sf_dir):
    from prometheus_spark.pipeline import bigram_lm_score

    return bigram_lm_score(_tbl(spark, sf_dir, "documents"), k=0.5)


def _pipe_repeated_spans(spark, sf_dir):
    from prometheus_spark.pipeline import remove_repeated_spans

    return remove_repeated_spans(
        _tbl(spark, sf_dir, "documents"), n=6, min_docs=2
    )


def _pipe_subword(spark, sf_dir):
    """Self-trained subword vocab (all chars + top-64 words) + greedy
    longest-match segmentation; the Python loop touches DISTINCT words
    only (mapInPandas), the corpus side is pure JVM."""
    from prometheus_spark.pipeline import subword_token_stats

    return subword_token_stats(
        _tbl(spark, sf_dir, "documents"), top_words=64
    )


_PARA_AUGMENT = (
    "'shared intro' || chr(10) || chr(10) || text || chr(10) || chr(10) "
    "|| 'tail ' || lang"
)


def _pipe_paragraph_dedup(spark, sf_dir):
    """The synthetic docs have no repeated paragraphs, so inject a
    corpus-wide intro and a per-lang tail (the oracle mirrors the same
    expression): only their first occurrences survive."""
    from prometheus_spark.pipeline import paragraph_dedup

    docs = _tbl(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PARA_AUGMENT} AS text"
    )
    return paragraph_dedup(docs, sep="\n\n")


_C4_AUGMENT = (
    "'An introductory line for every document.' || chr(10) || "
    "text || (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '.' END) || chr(10) || "
    "'tiny.' || chr(10) || "
    "'This page uses javascript everywhere.' || chr(10) || "
    "(CASE WHEN lang = 'en' THEN 'A closing english line.' ELSE 'short tail' END)"
)


def _pipe_c4(spark, sf_dir):
    """The synthetic docs are single-line word salad, so the entry
    injects C4-relevant structure (good lines, a too-short line, a
    badword line, a doc_id%3-dependent unpunctuated body, a
    lang-dependent tail) — the oracle mirrors the same expression."""
    from prometheus_spark.pipeline import c4_clean

    docs = _tbl(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", f"{_C4_AUGMENT} AS text"
    )
    return c4_clean(docs)


# Structure injected for the Gopher-rules entry: a doc_id%5-dependent
# bullet line, a doc_id%7-dependent ellipsis line, doc_id%11-dependent
# '#' symbols, and a lang-dependent stopword tail — exercises every rule
# on the single-line synthetic corpus.  The oracle evaluates the same
# SQL expression.
_GOPHER_AUGMENT = (
    "text || chr(10) || "
    "(CASE WHEN doc_id % 5 = 0 THEN '- bullet item one' "
    " ELSE 'a plain middle line' END) || chr(10) || "
    "(CASE WHEN doc_id % 7 = 0 THEN 'a trailing teaser...' "
    " ELSE 'a steady closing line' END) || "
    "(CASE WHEN doc_id % 11 = 0 THEN ' ## ##' ELSE '' END) || chr(10) || "
    "(CASE WHEN lang = 'en' THEN 'that have with' ELSE 'sans mots requis' END)"
)


def _pipe_gopher(spark, sf_dir):
    """Gopher/MassiveWeb quality rules over the augmented corpus;
    bullet/ellipsis thresholds tightened to 0.2 so the injected
    structure (1 of 4 lines) actually trips them."""
    from prometheus_spark.pipeline import gopher_quality

    docs = _tbl(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", f"{_GOPHER_AUGMENT} AS text"
    )
    return gopher_quality(docs, max_bullet_frac=0.2, max_ellipsis_frac=0.2)


def _pipe_dsir(spark, sf_dir):
    """DSIR importance weights of every document toward the English
    subset's hashed-ngram distribution."""
    from prometheus_spark.pipeline import dsir_weights

    docs = _tbl(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"), n_buckets=256)


def _pipe_stream_increase(spark, sf_dir):
    """The applyInPandasWithState counter-increase operator run as a
    REAL Structured Streaming query (availableNow file source → memory
    sink), then returned as the sink table — the one driver entry that
    exercises the streaming state store end-to-end.  The oracle is the
    batch-SQL equivalent (reset-aware cumulative window sum)."""
    import tempfile
    import uuid

    from prometheus_spark.streaming import streaming_counter_increase

    name = f"stream_ctr_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        # the file stream source wants a directory; glob-filter the
        # events file out of the sf dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # cents scaling: the per-sig cumulative sum is sequential in the
        # stream's state but a segment-tree window sum in DuckDB —
        # different fp orders drift past the 6-decimal rounding at sf10
        # magnitudes.  Integer-cent doubles accumulate exactly (< 2^53)
        # in any order; /100 on output is a deterministic IEEE division
        # of identical operands.
        .selectExpr(
            "event_type AS sig", "event_id AS t",
            "CAST(ROUND(value * 100) AS DOUBLE) AS value",
        )
    )
    q = (
        streaming_counter_increase(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ctr_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).selectExpr(
        "sig", "t", "value / 100 AS value",
        "round(cum_increase, 6) / 100 AS cum_increase", "resets",
    )


def _tsdb_block_roundtrip(spark, sf_dir):
    """Write events-derived series into a REAL reference-format TSDB
    block (v2 index + XOR chunk segments, storage/tsdb_block.py) and
    read it back distributed; the round-trip is the identity, so the
    DuckDB oracle is the same derivation straight off the parquet —
    hash-equality proves the native codec end-to-end."""
    import tempfile

    from prometheus_spark.storage import read_block, write_block

    ev = (
        _tbl(spark, sf_dir, "events")
        .filter(F.col("event_id") % 17 == 0)
        .select(
            "event_type",
            (F.col("event_id")).alias("t"),
            F.col("value"),
        )
        .collect()
    )
    series: dict = {}
    for r in ev:
        series.setdefault(r["event_type"], []).append(
            (int(r["t"]), float(r["value"]))
        )
    block = tempfile.mkdtemp(prefix="graft_blk_")
    write_block(
        block,
        [
            ({"__name__": "events_total", "event_type": k}, v)
            for k, v in series.items()
        ],
    )
    return read_block(spark, block).selectExpr(
        "element_at(labels, 'event_type') AS event_type",
        "t",
        "round(value, 6) AS value",
    )


def _pipe_stream_window(spark, sf_dir):
    """Tumbling-window streaming aggregation (watermark + F.window) run
    as a real Structured Streaming query in append mode: only windows
    the final watermark (max ts − 10 min) has passed are emitted, and
    the oracle applies the same finalization cutoff in SQL."""
    import tempfile
    import uuid

    from prometheus_spark.streaming import streaming_windowed_stats

    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    # cents scaling: cumulative float sums at sf10 magnitudes carry
    # enough summation-order noise (~1e-5) to flip the 6-decimal
    # rounding/.9g hash, and DuckDB's segment-tree window sums use a
    # different order than the stream's sequential state.  Integer-cent
    # doubles are EXACT below 2^53 in any order on both engines; the
    # trailing /100 is one deterministic IEEE division of identical
    # operands.  (Caught by the sf10 oracle run: 21 knife-edge rows.)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .selectExpr(
            "event_type AS sig", "ts",
            "CAST(ROUND(value * 100) AS DOUBLE) AS value",
        )
    )
    q = (
        streaming_windowed_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="win_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "sig", "window_start", "window_end", "n",
        (F.col("sum_value") / 100).alias("sum_value"),
        (F.col("avg_value") / 100).alias("avg_value"),
        (F.col("min_value") / 100).alias("min_value"),
        (F.col("max_value") / 100).alias("max_value"),
    )


def _pipe_session_window(spark, sf_dir):
    """Native session_window sessionization (batch mode of the
    streaming operator) — gap-merged per-user sessions with
    end = last event + gap."""
    from prometheus_spark.pipeline import streaming_session_stats

    ev = _tbl(spark, sf_dir, "events")
    return streaming_session_stats(ev, gap_minutes=30).select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def _pipe_split(spark, sf_dir):
    from prometheus_spark.pipeline import split_corpus

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_corpus(docs, {"train": 0.9, "val": 0.05, "test": 0.05})


def _pipe_shard(spark, sf_dir):
    from prometheus_spark.pipeline import shard_corpus

    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    return shard_corpus(docs, n_shards=16)


def _pipe_temperature_mix(spark, sf_dir):
    from prometheus_spark.pipeline import temperature_mix

    # the synthetic `source` column is uniform (rate would be 1.0
    # everywhere); `lang` is skewed (en ≈ 44%), so mix on it
    return temperature_mix(
        _tbl(spark, sf_dir, "documents"), alpha=0.5, source_col="lang"
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# DuckDB oracles.  Notation shared by the PromQL oracles:
#   samples = events with t in epoch-ms; instant vector at T0 = last value
#   per (event_type, user_id) within (T0 - lookback, T0].
_T0 = T0_MS
_LB = LOOKBACK_MS
_R7 = RANGE_7D_MS

_INSTANT = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id,
       arg_max(value, epoch_ms(ts)) AS value
FROM events
WHERE event_type = '{{name}}'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""

# per-(name,user) last values for several metrics
_INSTANT_ALL = f"""
SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
       arg_max(value, epoch_ms(ts)) AS value
FROM events
WHERE epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY event_type, user_id
"""

# windowed samples for range functions: (user_id, t, value, prev) in (T0-R, T0]
def _windowed(name: str, rng: int) -> str:
    return f"""
SELECT CAST(user_id AS VARCHAR) AS user_id, epoch_ms(ts) AS t, value,
       LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) AS prev
FROM events
WHERE event_type = '{name}'
  AND epoch_ms(ts) > {_T0} - {rng} AND epoch_ms(ts) <= {_T0}
"""


def _extrapolated_sql(name: str, rng: int, is_counter: bool, is_rate: bool, round_to: int) -> str:
    """The reference's extrapolatedRate (functions.go:452) in SQL."""
    corr = (
        "SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN prev ELSE 0 END)"
        if is_counter
        else "0"
    )
    per_second = f"/ ({rng} / 1000.0)" if is_rate else ""
    zero_clamp = (
        """, CASE WHEN delta > 0 AND first_v >= 0
             THEN LEAST(ext_start, sampled * (first_v / delta))
             ELSE ext_start END AS ext_start2"""
        if is_counter
        else ", ext_start AS ext_start2"
    )
    return f"""
WITH w AS ({_windowed(name, rng)}),
g AS (
  SELECT user_id, COUNT(*) AS n,
         MIN(t) AS first_t, MAX(t) AS last_t,
         arg_min(value, t) AS first_v, arg_max(value, t) AS last_v,
         {corr} AS corr
  FROM w GROUP BY user_id
),
e AS (
  SELECT user_id, n, first_v,
         (last_v - first_v + corr) AS delta,
         (first_t - ({_T0} - {rng})) / 1000.0 AS dur_start,
         ({_T0} - last_t) / 1000.0 AS dur_end,
         (last_t - first_t) / 1000.0 AS sampled,
         ((last_t - first_t) / 1000.0) / (n - 1) AS avg_sp
  FROM g WHERE n >= 2
),
x AS (
  SELECT user_id, first_v, delta, sampled, dur_end, avg_sp,
         CASE WHEN dur_start >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_start END AS ext_start
  FROM e
),
y AS (
  SELECT user_id, delta, sampled,
         CASE WHEN dur_end >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_end END AS ext_end
         {zero_clamp}
  FROM x
)
SELECT user_id,
       ROUND(delta * ((sampled + ext_start2 + ext_end) / sampled) {per_second}, {round_to}) AS value
FROM y
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["promql_instant_selector"] = _INSTANT.format(name="purchase")
    o["promql_quoted_name"] = _INSTANT.format(name="purchase")
    o["promql_offset"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id, arg_max(value, epoch_ms(ts)) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - 86400000 - {_LB} AND epoch_ms(ts) <= {_T0} - 86400000
GROUP BY user_id
"""
    o["promql_absent"] = "SELECT '42' AS user_id, 1.0 AS value"

    o["promql_sum_by"] = f"""
SELECT user_id, ROUND(SUM(value), 6) AS value
FROM ({_INSTANT_ALL}) WHERE event_type IN ('purchase', 'click')
GROUP BY user_id
"""
    o["promql_agg_global"] = f"""
SELECT ROUND(SUM(value) + MIN(value) + MAX(value) + COUNT(value), 6) AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_quantile_agg"] = f"""
SELECT ROUND(quantile_cont(value, 0.9), 6) AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_topk"] = f"""
WITH sums AS (
  SELECT user_id, SUM(value) AS value
  FROM ({_INSTANT_ALL}) WHERE event_type IN ('purchase', 'click')
  GROUP BY user_id
)
SELECT user_id, ROUND(value, 6) AS value FROM sums
-- tie-break mirrors the engine's deterministic sig-ascending order
-- (aggregations.py topk): sig for a by(user_id) group compares the
-- user_id as a STRING.  Reference tie order is unspecified
-- (engine.go topk heap), so any deterministic choice is conformant.
ORDER BY value DESC, CAST(user_id AS VARCHAR) ASC LIMIT 3
"""
    o["promql_count_by"] = f"""
SELECT event_type AS etype, CAST(COUNT(*) AS DOUBLE) AS value
FROM ({_INSTANT_ALL}) GROUP BY event_type
"""
    o["promql_count_values"] = f"""
WITH ch AS (
  SELECT user_id, SUM(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END) AS v
  FROM ({_windowed('purchase', _R7)}) GROUP BY user_id
)
SELECT CAST(CAST(v AS BIGINT) AS VARCHAR) AS nchanges, CAST(COUNT(*) AS DOUBLE) AS value
FROM ch GROUP BY v
"""

    # IEEE-754 division (PromQL engine.go:3484 vectorElemBinop): x/0 is
    # ±Inf (NaN at 0/0); DuckDB's `/` yields NULL on zero divisors, so
    # the special cases are spelled out
    o["promql_binop_div"] = f"""
WITH p AS ({_INSTANT.format(name='purchase')}), c AS ({_INSTANT.format(name='click')})
SELECT p.user_id,
       CASE WHEN c.value = 0 THEN
              CASE WHEN p.value > 0 THEN 'inf'::DOUBLE
                   WHEN p.value < 0 THEN '-inf'::DOUBLE
                   ELSE 'nan'::DOUBLE END
            ELSE ROUND(p.value / c.value, 8) END AS value
FROM p JOIN c ON p.user_id = c.user_id
"""
    o["promql_binop_filter"] = f"""
SELECT * FROM ({_INSTANT.format(name='purchase')}) WHERE value > 100
"""
    o["promql_set_and"] = f"""
SELECT p.* FROM ({_INSTANT.format(name='purchase')}) p
WHERE EXISTS (SELECT 1 FROM ({_INSTANT.format(name='click')}) c WHERE c.user_id = p.user_id)
"""
    o["promql_set_unless"] = f"""
SELECT * FROM ({_INSTANT.format(name='purchase')}) WHERE NOT (value > 100)
"""

    o["promql_rate"] = _extrapolated_sql("purchase", _R7, True, True, 10)
    o["promql_increase"] = _extrapolated_sql("purchase", _R7, True, False, 6)
    o["promql_delta"] = _extrapolated_sql("signup", _R7, False, False, 6)
    o["promql_idelta"] = f"""
WITH w AS ({_windowed('purchase', _R7)}),
r AS (SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM w)
SELECT a.user_id, ROUND(a.value - b.value, 6) AS value
FROM (SELECT * FROM r WHERE rn = 1 AND n >= 2) a
JOIN (SELECT * FROM r WHERE rn = 2) b ON a.user_id = b.user_id
"""
    o["promql_changes"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, CAST(SUM(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM w GROUP BY user_id
"""
    o["promql_resets"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, CAST(SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM w GROUP BY user_id
"""
    o["promql_count_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS value FROM w GROUP BY user_id
"""
    o["promql_avg_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, ROUND(AVG(value), 6) AS value FROM w GROUP BY user_id
"""
    o["promql_minmax_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, ROUND(MAX(value) - MIN(value), 6) AS value FROM w GROUP BY user_id
"""
    o["promql_quantile_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS value FROM w GROUP BY user_id
"""
    o["promql_deriv"] = f"""
WITH w AS ({_windowed('purchase', _R7)}),
t0 AS (SELECT user_id, MIN(t) AS t0, COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
       FROM w GROUP BY user_id),
s AS (
  SELECT w.user_id,
         SUM((w.t - t0.t0) / 1000.0) AS sx, SUM(w.value) AS sy,
         SUM(((w.t - t0.t0) / 1000.0) * w.value) AS sxy,
         SUM(((w.t - t0.t0) / 1000.0) * ((w.t - t0.t0) / 1000.0)) AS sxx,
         COUNT(*) AS n, MIN(t0.vmin) AS vmin, MAX(t0.vmax) AS vmax
  FROM w JOIN t0 ON w.user_id = t0.user_id GROUP BY w.user_id
)
SELECT user_id,
       ROUND(CASE WHEN vmin = vmax THEN 0.0
             ELSE (sxy - sx * sy / n) / (sxx - sx * sx / n) END, 12) AS value
FROM s WHERE n >= 2
"""
    o["promql_math_fn"] = f"""
SELECT user_id, ROUND(LEAST(GREATEST(SQRT(ABS(value)), 2), 12), 8) AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_label_join"] = f"""
SELECT user_id || '-' || 'purchase' AS key, value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_set_or"] = f"""
WITH p AS ({_INSTANT.format(name='purchase')}), c AS ({_INSTANT.format(name='click')})
SELECT 'purchase' AS etype, user_id, value FROM p
UNION ALL
SELECT 'click' AS etype, c.user_id, c.value FROM c
WHERE c.user_id NOT IN (SELECT user_id FROM p)
"""
    o["promql_timestamp"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id,
       ROUND(arg_max(epoch_ms(ts), epoch_ms(ts)) / 1000.0, 3) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""
    o["promql_stddev_agg"] = f"""
SELECT ROUND(stddev_pop(value) + var_pop(value) + AVG(value), 6) AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_avg_by"] = f"""
SELECT user_id, ROUND(AVG(value), 6) AS value
FROM ({_INSTANT_ALL.replace('{', '{{').replace('}', '}}')})
WHERE event_type IN ('purchase', 'click')
GROUP BY user_id
"""
    o["promql_clamp"] = f"""
SELECT user_id, ROUND(LEAST(GREATEST(value, 50), 200), 6) AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    # ts_of_max_over_time: timestamp (s) of the max sample; ties pick the
    # LATEST sample (functions.go:1516 cur >= maxVal in time order)
    o["promql_ts_of_max"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id,
       ROUND(MAX(t) FILTER (WHERE value = mx) / 1000.0, 3) AS value
FROM (SELECT *, MAX(value) OVER (PARTITION BY user_id) AS mx FROM w)
GROUP BY user_id
"""
    o["promql_limitk"] = f"""
SELECT user_id, value FROM ({_INSTANT.format(name='purchase')})
ORDER BY user_id ASC LIMIT 5
"""
    o["promql_limit_ratio_complement"] = f"""
SELECT CAST(COUNT(*) AS DOUBLE) AS value FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_absent_over_time"] = "SELECT 1.0 AS value"
    # subquery: inner 30m epoch grid in (T0-2h, T0], left-open bump; each
    # inner step sees the per-user last value within the lookback window
    _SQ_STEPS = ", ".join(
        str(_T0 - k * 1_800_000) for k in range(3, -1, -1)
    )
    o["promql_subquery_max"] = f"""
WITH steps(st) AS (SELECT * FROM (VALUES ({_SQ_STEPS.replace(', ', '), (')}))),
inner_v AS (
  SELECT s.st, e.user_id, arg_max(e.value, epoch_ms(e.ts)) AS v
  FROM steps s JOIN events e
    ON e.event_type = 'purchase'
   AND epoch_ms(e.ts) > s.st - {_LB} AND epoch_ms(e.ts) <= s.st
  GROUP BY s.st, e.user_id
),
summed AS (SELECT st, user_id, SUM(v) AS sv FROM inner_v GROUP BY st, user_id)
SELECT CAST(user_id AS VARCHAR) AS user_id, ROUND(MAX(sv), 6) AS value
FROM summed GROUP BY user_id
"""
    o["promql_start_timestamp"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id,
       ROUND((arg_max(epoch_ms(ts), epoch_ms(ts)) - user_id * 1000) / 1000.0, 3) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""

    # --- modifiers / matching / extra functions ----------------------------
    _T0_SHIFT = _T0 - 86_400_000
    o["promql_at_modifier"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id, arg_max(value, epoch_ms(ts)) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0_SHIFT} - {_LB} AND epoch_ms(ts) <= {_T0_SHIFT}
GROUP BY user_id
"""
    _T0_FWD = _T0 + 86_400_000
    o["promql_offset_negative"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id, arg_max(value, epoch_ms(ts)) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0_FWD} - {_LB} AND epoch_ms(ts) <= {_T0_FWD}
GROUP BY user_id
"""
    o["promql_unary_neg"] = f"""
SELECT user_id, -value AS value FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_bool_cmp"] = f"""
SELECT user_id, CASE WHEN value >= 100 THEN 1.0 ELSE 0.0 END AS value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_group_agg"] = f"""
SELECT user_id, 1.0 AS value FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_atan2_binop"] = f"""
WITH p AS ({_INSTANT.format(name='purchase')}), c AS ({_INSTANT.format(name='click')})
SELECT p.user_id, ROUND(atan2(p.value, c.value), 8) AS value
FROM p JOIN c ON p.user_id = c.user_id
"""
    o["promql_group_left"] = f"""
WITH p AS ({_INSTANT.format(name='purchase')}), c AS ({_INSTANT.format(name='click')}),
cs AS (
  SELECT CAST(CAST(user_id AS BIGINT) % 2 AS VARCHAR) AS parity, SUM(value) AS sv
  FROM c GROUP BY 1
)
SELECT p.user_id, CAST(CAST(p.user_id AS BIGINT) % 2 AS VARCHAR) AS parity,
       ROUND(p.value * cs.sv, 4) AS value
FROM p JOIN cs ON CAST(CAST(p.user_id AS BIGINT) % 2 AS VARCHAR) = cs.parity
"""
    o["promql_label_replace"] = f"""
SELECT 'g' || substr(user_id, 1, 1) AS grp, user_id, value
FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_scalar_vector"] = f"""
SELECT CAST(COUNT(*) AS DOUBLE) * 2 AS value FROM ({_INSTANT.format(name='purchase')})
"""
    o["promql_time_fns"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id,
       CAST(hour(to_timestamp(arg_max(epoch_ms(ts), epoch_ms(ts)) // 1000)) * 100
          + minute(to_timestamp(arg_max(epoch_ms(ts), epoch_ms(ts)) // 1000)) AS DOUBLE) AS value
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""
    o["promql_irate"] = f"""
WITH w AS ({_windowed('purchase', _R7)}),
r AS (SELECT user_id, t, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM w)
SELECT a.user_id,
       ROUND((CASE WHEN a.value < b.value THEN a.value ELSE a.value - b.value END)
             / ((a.t - b.t) / 1000.0), 8) AS value
FROM (SELECT * FROM r WHERE rn = 1 AND n >= 2) a
JOIN (SELECT * FROM r WHERE rn = 2) b ON a.user_id = b.user_id
"""
    o["promql_predict_linear"] = f"""
WITH w AS ({_windowed('purchase', _R7)}),
s AS (
  SELECT user_id,
         SUM((t - {_T0}) / 1000.0) AS sx, SUM(value) AS sy,
         SUM(((t - {_T0}) / 1000.0) * value) AS sxy,
         SUM(((t - {_T0}) / 1000.0) * ((t - {_T0}) / 1000.0)) AS sxx,
         COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
  FROM w GROUP BY user_id
),
lr AS (
  SELECT user_id, n, vmin, vmax,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n AS intercept
  FROM s WHERE n >= 2
)
SELECT user_id,
       ROUND(CASE WHEN vmin = vmax THEN vmin
             ELSE slope * 3600 + intercept END, 6) AS value
FROM lr
"""
    o["promql_sum_last_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)})
SELECT user_id, ROUND(SUM(value) + arg_max(value, t), 6) AS value
FROM w GROUP BY user_id
"""
    o["promql_mad_over_time"] = f"""
WITH w AS ({_windowed('purchase', _R7)}),
m AS (SELECT user_id, quantile_cont(value, 0.5) AS med FROM w GROUP BY user_id)
SELECT w.user_id, ROUND(quantile_cont(abs(w.value - m.med), 0.5), 6) AS value
FROM w JOIN m ON w.user_id = m.user_id GROUP BY w.user_id
"""

    # --- range queries ------------------------------------------------------
    _GRID5 = ", ".join(f"({_T0 - k * 86_400_000})" for k in range(4, -1, -1))
    o["promql_range_selector"] = f"""
WITH steps(st) AS (SELECT * FROM (VALUES {_GRID5}))
SELECT CAST(e.user_id AS VARCHAR) AS user_id, s.st AS t,
       arg_max(e.value, epoch_ms(e.ts)) AS value
FROM steps s JOIN events e
  ON e.event_type = 'purchase'
 AND epoch_ms(e.ts) > s.st - {_LB} AND epoch_ms(e.ts) <= s.st
GROUP BY e.user_id, s.st
"""
    _GRID3 = ", ".join(f"({_T0 - k * 86_400_000})" for k in range(2, -1, -1))
    o["promql_range_rate"] = f"""
WITH steps(st) AS (SELECT * FROM (VALUES {_GRID3})),
w AS (
  SELECT s.st, CAST(e.user_id AS VARCHAR) AS user_id, epoch_ms(e.ts) AS t, e.value,
         LAG(e.value) OVER (PARTITION BY s.st, e.user_id ORDER BY epoch_ms(e.ts)) AS prev
  FROM steps s JOIN events e
    ON e.event_type = 'purchase'
   AND epoch_ms(e.ts) > s.st - {_R7} AND epoch_ms(e.ts) <= s.st
),
g AS (
  SELECT st, user_id, COUNT(*) AS n,
         MIN(t) AS first_t, MAX(t) AS last_t,
         arg_min(value, t) AS first_v, arg_max(value, t) AS last_v,
         SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN prev ELSE 0 END) AS corr
  FROM w GROUP BY st, user_id
),
e AS (
  SELECT st, user_id, n, first_v,
         (last_v - first_v + corr) AS delta,
         (first_t - (st - {_R7})) / 1000.0 AS dur_start,
         (st - last_t) / 1000.0 AS dur_end,
         (last_t - first_t) / 1000.0 AS sampled,
         ((last_t - first_t) / 1000.0) / (n - 1) AS avg_sp
  FROM g WHERE n >= 2
),
x AS (
  SELECT st, user_id, first_v, delta, sampled, dur_end, avg_sp,
         CASE WHEN dur_start >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_start END AS ext_start
  FROM e
),
y AS (
  SELECT st, user_id, delta, sampled,
         CASE WHEN dur_end >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_end END AS ext_end,
         CASE WHEN delta > 0 AND first_v >= 0
              THEN LEAST(ext_start, sampled * (first_v / delta))
              ELSE ext_start END AS ext_start2
  FROM x
)
SELECT user_id, st AS t,
       ROUND(delta * ((sampled + ext_start2 + ext_end) / sampled) / ({_R7} / 1000.0), 10) AS value
FROM y
"""

    # wide range/step ratio (7d window, 1h step over 2d → 49 steps,
    # ratio 168 ≥ 64): the engine side evaluates on the prefix/as-of
    # fast path; identical extrapolation arithmetic
    _GRIDH = ", ".join(f"({_T0 - k * 3_600_000})" for k in range(48, -1, -1))
    o["promql_range_rate_wide"] = (
        o["promql_range_rate"]
        .replace(f"VALUES {_GRID3}", f"VALUES {_GRIDH}")
        .replace(", 10) AS value", ", 6) AS value")
    )
    # DES recurrence as a recursive CTE, same IEEE op order as the
    # engine's fold: l0 = x1, b0 = x2 - x1, then per sample
    # l' = sf·x + (1−sf)·(l + b); b' = tf·(l' − l) + (1−tf)·b.
    # (1−0.3 and 1−0.2 are exactly 0.7/0.8 in binary64, so the literals
    # parse to the identical doubles the engine multiplies by.)
    o["promql_des_wide"] = f"""
WITH RECURSIVE steps(st) AS (SELECT * FROM (VALUES {_GRIDH})),
w AS (
  SELECT s.st, CAST(e.user_id AS VARCHAR) AS user_id, e.value,
         ROW_NUMBER() OVER (PARTITION BY s.st, e.user_id ORDER BY epoch_ms(e.ts)) AS i,
         COUNT(*) OVER (PARTITION BY s.st, e.user_id) AS n
  FROM steps s JOIN events e
    ON e.event_type = 'purchase'
   AND epoch_ms(e.ts) > s.st - {_R7} AND epoch_ms(e.ts) <= s.st
),
rec(st, user_id, i, n, l, b) AS (
  SELECT w1.st, w1.user_id, 2, w1.n,
         0.3 * w2.value + 0.7 * (w1.value + (w2.value - w1.value)),
         0.2 * ((0.3 * w2.value + 0.7 * (w1.value + (w2.value - w1.value))) - w1.value)
           + 0.8 * (w2.value - w1.value)
  FROM w w1 JOIN w w2
    ON w2.st = w1.st AND w2.user_id = w1.user_id AND w2.i = 2
  WHERE w1.i = 1 AND w1.n >= 2
  UNION ALL
  SELECT r.st, r.user_id, r.i + 1, r.n,
         0.3 * w.value + 0.7 * (r.l + r.b),
         0.2 * ((0.3 * w.value + 0.7 * (r.l + r.b)) - r.l) + 0.8 * r.b
  FROM rec r JOIN w
    ON w.st = r.st AND w.user_id = r.user_id AND w.i = r.i + 1
)
SELECT user_id, st AS t, ROUND(l, 6) AS value FROM rec WHERE i = n
"""
    o["promql_range_changes_wide"] = f"""
WITH steps(st) AS (SELECT * FROM (VALUES {_GRIDH})),
w AS (
  SELECT s.st, CAST(e.user_id AS VARCHAR) AS user_id, e.value,
         LAG(e.value) OVER (PARTITION BY s.st, e.user_id ORDER BY epoch_ms(e.ts)) AS prev
  FROM steps s JOIN events e
    ON e.event_type = 'purchase'
   AND epoch_ms(e.ts) > s.st - {_R7} AND epoch_ms(e.ts) <= s.st
)
SELECT user_id, st AS t,
       ROUND(CAST(SUM(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END) AS DOUBLE), 6) AS value
FROM w GROUP BY user_id, st
"""

    # --- classic histograms -------------------------------------------------
    _HCOUNTS = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id,
       SUM(CASE WHEN value <= 25 THEN 1.0 ELSE 0.0 END) AS c1,
       SUM(CASE WHEN value <= 100 THEN 1.0 ELSE 0.0 END) AS c2,
       SUM(CASE WHEN value <= 250 THEN 1.0 ELSE 0.0 END) AS c3,
       COUNT(*) * 1.0 AS cinf
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""
    o["promql_histogram_quantile_classic"] = f"""
WITH h AS ({_HCOUNTS}), r AS (SELECT *, 0.9 * cinf AS rank FROM h)
SELECT user_id,
  ROUND(CASE
    WHEN c1 >= rank THEN 25.0 * (rank / c1)
    WHEN c2 >= rank THEN 25.0 + 75.0 * ((rank - c1) / (c2 - c1))
    WHEN c3 >= rank THEN 100.0 + 150.0 * ((rank - c2) / (c3 - c2))
    ELSE 250.0 END, 6) AS value
FROM r
"""
    o["promql_histogram_fraction_classic"] = f"""
WITH h AS ({_HCOUNTS})
SELECT user_id, ROUND((c3 - c1) / cinf, 6) AS value FROM h
"""

    o["federate_roundtrip"] = f"""
SELECT 'purchase' AS name, CAST(user_id AS VARCHAR) AS user_id,
       ROUND(arg_max(value, epoch_ms(ts)), 6) AS value,
       arg_max(epoch_ms(ts), epoch_ms(ts)) AS t
FROM events
WHERE event_type = 'purchase'
  AND epoch_ms(ts) > {_T0} - {_LB} AND epoch_ms(ts) <= {_T0}
GROUP BY user_id
"""
    o["openmetrics_ingest"] = """
SELECT * FROM (VALUES
  ('http_requests_total', '200', '', 1700000000000, 1027.0),
  ('http_requests_total', '404', '', 1700000000000, 3.0),
  ('rpc_seconds_bucket', '', '0.1', 1700000000000, 2.0),
  ('rpc_seconds_bucket', '', '1', 1700000000000, 5.0),
  ('rpc_seconds_bucket', '', '+Inf', 1700000000000, 7.0),
  ('rpc_seconds_sum', '', '', 1700000000000, 4.2),
  ('rpc_seconds_count', '', '', 1700000000000, 7.0)
) AS t(name, code, le, t, value)
"""
    o["doc_url_dedup"] = """
SELECT 'https://' || source || '.example.com/docs/' || (doc_id % 50)
         || '?a=1&b=2' AS normalized_url,
       doc_id
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source, doc_id % 50
           ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM documents
)
WHERE rn = 1
"""
    o["st_zero_ingestion"] = """
SELECT * FROM (VALUES
  ('req_total', 'a', 30000, 0.0, 30000),
  ('req_total', 'a', 60000, 10.0, 30000),
  ('req_total', 'b', 45000, 0.0, 45000),
  ('req_total', 'b', 60000, 5.0, 45000),
  ('req_total', 'a', 120000, 17.0, 30000),
  ('req_total', 'b', 120000, 6.0, 45000)
) AS t(name, job, t, value, start_ts)
"""
    o["nhcb_ingest"] = """
SELECT 'rpc_seconds' AS name, 7.0 AS hcount, 4.2 AS hsum,
       0.1 AS cv1, 1.0 AS cv2, 2.0 AS b1, 3.0 AS b2, 2.0 AS b3
"""
    o["merge_dedupe"] = f"""
SELECT CAST(user_id AS VARCHAR) AS user_id, epoch_ms(ts) AS t,
       ROUND(MIN(value) + CASE WHEN user_id < 60 THEN 0 ELSE 1000 END, 6) AS value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id, epoch_ms(ts)
"""

    # --- relational ---------------------------------------------------------
    o["tpch_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
    o["tpch_revenue_by_nation"] = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""
    o["tpch_top_orders_per_segment"] = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
"""
    o["events_hourly_stats"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

    # native TSDB block round-trip: write_block→read_block is the
    # identity over the derived series, so the oracle is the same
    # derivation straight off the parquet
    o["tsdb_block_roundtrip"] = """
SELECT event_type, event_id AS t, ROUND(value, 6) AS value
FROM events WHERE event_id % 17 = 0
"""

    # streaming tumbling-window agg: append mode emits a window only
    # once the watermark (max ts - 10 min) passes its end — the cutoff
    # is applied identically here
    # cents scaling mirrors the Spark entry: integer-cent doubles sum
    # exactly in any order on both engines; the /100 is one
    # deterministic IEEE division of identical operands
    o["stream_hourly_stats"] = """
WITH mx AS (SELECT MAX(ts) AS m FROM events),
agg AS (
  SELECT event_type AS sig,
         date_trunc('hour', ts) AS window_start,
         COUNT(*) AS n,
         ROUND(SUM(ROUND(value * 100)), 6) / 100 AS sum_value,
         ROUND(AVG(ROUND(value * 100)), 6) / 100 AS avg_value,
         MIN(ROUND(value * 100)) / 100 AS min_value,
         MAX(ROUND(value * 100)) / 100 AS max_value
  FROM events GROUP BY 1, 2
)
SELECT sig, window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       n, sum_value, avg_value, min_value, max_value
FROM agg, mx
WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
"""

    # --- pipeline: text ------------------------------------------------------
    o["doc_token_count"] = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""
    o["doc_quality_score"] = r"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS words,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\s]')) AS DOUBLE) AS n_punct
  FROM documents
), g AS (
  SELECT doc_id, n_chars, n_punct,
         CAST(len(words) AS DOUBLE) AS n_words,
         CAST(len(list_filter(words, w -> w IN ('the','and','of','to','in'))) AS DOUBLE) AS stop_hits
  FROM f
), h AS (
  SELECT doc_id, n_words,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN stop_hits / n_words ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END AS mwl
  FROM g
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(((CASE WHEN n_words >= 5 AND n_words <= 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
            + LEAST(stop_ratio * 5.0, 1.0)) / 4.0, 6) AS quality
FROM h
"""
    o["doc_lang_id"] = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS words
  FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(words, x -> x IN ('der','die','und','das','nicht'))) AS h_de,
    len(list_filter(words, x -> x IN ('the','and','of','to','in'))) AS h_en,
    len(list_filter(words, x -> x IN ('el','de','que','los','las'))) AS h_es,
    len(list_filter(words, x -> x IN ('le','la','et','les','des'))) AS h_fr,
    len(list_filter(words, x -> x IN ('的','是','了','在','我'))) AS h_zh
  FROM w
)
SELECT doc_id,
  CASE WHEN GREATEST(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'unknown'
       WHEN h_de = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
       WHEN h_en = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
       WHEN h_es = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
       WHEN h_fr = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
       ELSE 'zh' END AS pred_lang,
  CAST(GREATEST(h_de,h_en,h_es,h_fr,h_zh) AS BIGINT) AS anchor_hits
FROM hits
"""
    o["doc_fingerprint"] = r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""
    o["dedup_exact"] = """
SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
"""
    o["doc_repetition_ratio"] = r"""
WITH f AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         CAST(len(w) AS DOUBLE) AS n,
         CAST(len(list_distinct(w)) AS DOUBLE) AS nd,
         list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                        i -> w[i] || ' ' || w[i + 1]) AS bg
  FROM f
)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       ROUND(CASE WHEN n > 0 THEN 1.0 - nd / n ELSE 0.0 END, 6) AS dup_word_frac,
       ROUND(CASE WHEN len(bg) > 0
                  THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                  ELSE 0.0 END, 6) AS dup_bigram_frac
FROM g
"""
    o["doc_topk_ngrams"] = r"""
WITH f AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM f
)
SELECT gram, COUNT(*) AS cnt FROM g
GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20
"""
    o["doc_sample_stratified"] = """
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000) <
      (CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500 ELSE 1000 END)
"""
    o["events_sessionization"] = """
WITH s AS (
  SELECT user_id, event_id, epoch(ts) AS t,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, t,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM s
), per AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         MAX(t) - MIN(t) AS dur_s
  FROM sess GROUP BY 1, 2
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(dur_s), 6) AS avg_session_sec,
       ROUND(AVG(n_events), 6) AS avg_events_per_session
FROM per GROUP BY 1
"""
    o["dedup_ngram_jaccard"] = r"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                      i -> w[i] || ' ' || w[i + 1])) AS gs
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 1000)
), inv AS (SELECT doc_id, unnest(gs) AS g FROM grams),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(gs) AS s FROM grams)
SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.s + sb.s - i), 6) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.s + sb.s - i) >= 0.5
"""
    o["dedup_repeated_substrings"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
), wins AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
                                 i -> {'pos': i, 'g': array_to_string(w[i:i+4], ' ')})) AS u
    FROM toks)
), cnt AS (SELECT g, COUNT(*) AS c FROM wins GROUP BY g)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
       CAST(COALESCE(MIN(CASE WHEN c >= 2 THEN pos END), 0) AS INT) AS first_repeated,
       CAST(COALESCE(MAX(CASE WHEN c >= 2 THEN pos END), 0) AS INT) AS last_repeated
FROM wins JOIN cnt USING (g)
GROUP BY doc_id
"""
    o["dedup_clusters"] = r"""
WITH RECURSIVE pairs AS (
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                      i -> w[i] || ' ' || w[i + 1])) AS gs
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
        FROM documents WHERE doc_id < 1000)
), inv AS (SELECT doc_id, unnest(gs) AS g FROM grams),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(gs) AS s FROM grams)
SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.s + sb.s - i), 6) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.s + sb.s - i) >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, root) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
)
SELECT node, MIN(root) AS cluster FROM reach GROUP BY node
"""
    o["dedup_embedding_cosine"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
"""
    o["ann_cosine_topk"] = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC
LIMIT 10
"""
    # nprobe = n_centroids probes every IVF partition → identical to the
    # exact brute-force ranking
    o["ann_ivf_topk"] = o["ann_cosine_topk"]
    # synthesize_media(kind='video') durations: 1000 + (i%7)*700 ms;
    # frame_sample_plan(every_ms=500) emits max(duration//500, 1) frames
    o["multimodal_frame_sample"] = """
WITH m AS (
  SELECT i AS media_id, 1000 + (i % 7) * 700 AS duration_ms
  FROM range(0, 32) t(i)
)
SELECT media_id,
       CAST(unnest(range(0, GREATEST(CAST(duration_ms // 500 AS INT), 1))) AS INT) AS frame_idx,
       CAST(unnest(range(0, GREATEST(CAST(duration_ms // 500 AS INT), 1))) * 500 AS INT) AS frame_ts_ms
FROM m
"""

    o["dedup_cross_corpus"] = r"""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
),
n AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
fresh AS (SELECT * FROM n WHERE md5(text) NOT IN (SELECT h FROM corpus)),
keep AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY md5(text))
SELECT doc_id, lang, n_chars FROM fresh
WHERE doc_id IN (SELECT doc_id FROM keep)
"""

    # decontaminate: same word-8-gram construction as the Spark side
    # (_word_ngrams), benchmark = doc_id % 10 = 0
    o["dedup_decontaminate"] = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 7, 0) + 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                || ' ' || w[i+7])) AS gs
  FROM words
),
bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 10 = 0
),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams) t
  JOIN bench USING (g)
)
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""

    # multimodal_features: Spark REALLY parses the PNG IHDR / WAV fmt
    # headers of stdlib-encoded payloads; the oracle reproduces the
    # deterministic synthesis rules (media_dims / media_audio_params),
    # so a parser bug breaks the hash match.
    o["multimodal_features"] = """
SELECT i AS media_id,
       CASE WHEN i % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
       CASE WHEN i % 2 = 0 THEN 16 + (i % 16) ELSE -1 END AS width,
       CASE WHEN i % 2 = 0 THEN 16 + ((i * 7) % 16) ELSE -1 END AS height,
       CASE WHEN i % 2 = 1 THEN 8000 + (i % 3) * 4000 ELSE -1 END AS sample_rate,
       CASE WHEN i % 2 = 1 THEN 500 + (i % 5) * 250 ELSE -1 END AS duration_ms,
       true AS parse_ok
FROM range(0, 64) t(i)
"""

    # dedup_minhash_candidates / dedup_simhash: the driver entries use the
    # md5-portable hash family (pipeline/dedup.py portable variants), so
    # DuckDB reproduces every value.  The permutation constants are
    # regenerated here from the same Python source — one definition, two
    # renderings.
    from prometheus_spark.pipeline.dedup import PORTABLE_P, portable_perm_constants

    from prometheus_spark.pipeline.dedup import STAR_THRESHOLD as _star

    _p = PORTABLE_P
    _consts = portable_perm_constants(16, _p)
    _min_cols = ",\n       ".join(
        f"MIN(({a} * b + {c}) % {_p}) AS m{i}" for i, (a, c) in enumerate(_consts)
    )
    _band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" md5(concat_ws(',', m{b * 4}, m{b * 4 + 1}, m{b * 4 + 2}, m{b * 4 + 3})) AS bucket FROM m"
        for b in range(4)
    )
    o["dedup_minhash_candidates"] = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(ws), 1)),
                                             i -> ws[i] || ' ' || ws[i+1]))) AS gram
  FROM w
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT % {_p} AS b FROM g
),
m AS (
  SELECT doc_id,
       {_min_cols}
  FROM h GROUP BY doc_id
),
bands AS (
{_band_rows}
),
sized AS (
  SELECT doc_id, band, bucket,
         COUNT(*) OVER (PARTITION BY band, bucket) AS n,
         MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
  FROM bands
),
small AS (SELECT doc_id, band, bucket FROM sized WHERE n <= {_star}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM small a JOIN small b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  UNION ALL
  -- oversized buckets emit star edges, mirroring dedup.py STAR_THRESHOLD
  SELECT rep AS doc_a, doc_id AS doc_b FROM sized
  WHERE n > {_star} AND doc_id <> rep
)
SELECT DISTINCT doc_a, doc_b FROM pairs
"""

    o["dedup_simhash"] = r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
h AS (
  SELECT doc_id,
         (CASE WHEN ('0x' || substr(md5(word), 1, 8))::BIGINT >= 2147483648
               THEN ('0x' || substr(md5(word), 1, 8))::BIGINT - 4294967296
               ELSE ('0x' || substr(md5(word), 1, 8))::BIGINT END) * 4294967296
         + ('0x' || substr(md5(word), 9, 8))::BIGINT AS hv
  FROM w
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, range(0, 64) t(j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 AND j >= 32 THEN (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN vote > 0 AND j < 32 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS lo
  FROM bits GROUP BY doc_id
)
SELECT doc_id, lower(lpad(hex(hi), 8, '0') || lpad(hex(lo), 8, '0')) AS simhash FROM fp
"""

    # ann_lsh_topk probes ALL 2^4 buckets (probe_all) → exact, so the
    # brute-force cosine oracle matches value-for-value
    o["ann_lsh_topk"] = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1)
SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC
LIMIT 12
"""

    # --- corpus curation (pipeline/curation.py) ----------------------------
    # the same four-stage regex cascade as pii_redact: counts are taken
    # against each stage's input text, replacements are digit-free
    o["doc_pii_redact"] = rf"""
WITH d AS (SELECT doc_id, {_PII_AUGMENT} AS t0 FROM documents),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
         regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t1
       FROM d),
s2 AS (SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '\b(?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}\b')) AS n_ipv4,
         regexp_replace(t1, '\b(?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}\b', '<IP>', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
         len(regexp_extract_all(t2, '\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\b')) AS n_ssn,
         regexp_replace(t2, '\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\b', '<SSN>', 'g') AS t3
       FROM s2),
s4 AS (SELECT doc_id, n_email, n_ipv4, n_ssn,
         len(regexp_extract_all(t3, '\+?[0-9][0-9() \-]{{6,}}[0-9]')) AS n_phone,
         regexp_replace(t3, '\+?[0-9][0-9() \-]{{6,}}[0-9]', '<PHONE>', 'g') AS t4
       FROM s3)
SELECT doc_id, t4 AS redacted,
       CAST(n_email AS BIGINT) AS n_email, CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       CAST(n_ssn AS BIGINT) AS n_ssn, CAST(n_phone AS BIGINT) AS n_phone
FROM s4
"""

    # chunk_documents(max_tokens=32, overlap=4) → stride 28
    o["doc_chunks"] = r"""
WITH f AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
  FROM documents
),
s AS (
  SELECT doc_id, w, unnest(range(0, len(w), 28)) AS start
  FROM f WHERE len(w) > 0
)
SELECT doc_id,
       CAST(start // 28 AS BIGINT) AS chunk_id,
       CAST(len(piece) AS BIGINT) AS n_tokens,
       array_to_string(piece, ' ') AS chunk_text
FROM (
  SELECT doc_id, start,
         list_slice(w, start + 1, least(start + 32, len(w))) AS piece
  FROM s
)
"""

    # pack_sequences(seq_len=2048, shard_col='lang'): running-offset
    # prefix sum per lang shard, +1 EOS per document
    o["doc_pack_sequences"] = r"""
WITH f AS (
  SELECT lang, doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
g AS (
  SELECT lang, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens + 1) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS "offset"
  FROM f
)
SELECT lang, doc_id, n_tokens, "offset",
       CAST(floor("offset" / 2048.0) AS BIGINT) AS first_seq,
       CAST(floor(("offset" + greatest(n_tokens - 1, 0)) / 2048.0) AS BIGINT)
         AS last_seq
FROM g
"""

    # remove_boilerplate(min_docs=50) over header/footer-augmented docs
    o["doc_boilerplate_removal"] = rf"""
WITH d AS (SELECT doc_id, {_LINES_AUGMENT} AS t FROM documents),
p AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
l AS (SELECT doc_id,
             unnest(list_transform(parts, x -> trim(x))) AS line,
             unnest(range(1, len(parts) + 1)) AS i
      FROM p),
nz AS (SELECT doc_id, i, line FROM l WHERE line <> ''),
bp AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM nz)
       GROUP BY line HAVING COUNT(*) >= 50),
nl AS (SELECT doc_id, COUNT(*) AS n_lines FROM nz GROUP BY doc_id),
kept AS (SELECT doc_id, i, line FROM nz
         WHERE line NOT IN (SELECT line FROM bp)),
rb AS (SELECT doc_id,
              array_to_string(list(line ORDER BY i), chr(10)) AS clean_text,
              COUNT(*) AS n_kept
       FROM kept GROUP BY doc_id)
SELECT nl.doc_id,
       COALESCE(rb.clean_text, '') AS clean_text,
       CAST(nl.n_lines - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_removed
FROM nl LEFT JOIN rb ON nl.doc_id = rb.doc_id
"""

    # SemDeDup: 8 seed centroids = smallest md5('v1:'||id), assignment =
    # argmax dot(v, seed)/|seed| (tie -> lowest seed rank), keep a vector
    # iff no smaller-id cluster-mate is >= 0.35 cosine-similar
    o["dedup_semantic"] = r"""
WITH seeds AS (
  SELECT CAST(embedding AS DOUBLE[]) AS sv,
         ROW_NUMBER() OVER (ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR))) AS rank
  FROM embeddings
  ORDER BY md5('v1:' || CAST(vec_id AS VARCHAR)) LIMIT 8
),
assigned AS (
  SELECT vec_id, emb, rank AS cid FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, s.rank,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), s.sv)
                      / sqrt(list_dot_product(s.sv, s.sv)) DESC,
                      s.rank ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid
FROM assigned a
WHERE NOT EXISTS (
  SELECT 1 FROM assigned b
  WHERE b.cid = a.cid AND b.vec_id < a.vec_id
    AND list_cosine_similarity(a.emb, b.emb) >= 0.35
)
"""

    # add-0.5-smoothed bigram LM self-scored: bits = -avg log2 P(w2|w1)
    o["doc_bigram_lm"] = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
  FROM documents
),
toks AS (SELECT unnest(ws) AS w FROM w),
uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
bg AS (
  SELECT doc_id, unnest(range(1, len(ws))) AS i, ws
  FROM w WHERE len(ws) >= 2
),
pairs AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bg),
scored AS (
  SELECT p.doc_id,
         -log2((COALESCE(b.c2, 0) + 0.5) / (u.c1 + 0.5 * v.v)) AS bits
  FROM pairs p
  LEFT JOIN (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2) b
    USING (w1, w2)
  JOIN uni u ON p.w1 = u.w
  CROSS JOIN vocab v
)
SELECT d.doc_id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bigrams,
       COALESCE(s.bits, 0.0) AS bits
FROM documents d
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, ROUND(AVG(bits), 6) AS bits
  FROM scored GROUP BY doc_id
) s USING (doc_id)
"""

    # repeated 6-token spans in >= 2 distinct docs; a token is dropped iff
    # covered by a duplicated span starting at any of the 6 positions
    # ending at it (window max over 5 preceding rows)
    o["doc_repeated_spans"] = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
  FROM documents
),
spans AS (
  SELECT doc_id, unnest(range(1, len(ws) - 4)) AS p, ws
  FROM w WHERE len(ws) >= 6
),
hashes AS (
  SELECT doc_id, p,
         md5(array_to_string(list_slice(ws, p, p + 5), ' ')) AS h
  FROM spans
),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM hashes)
  GROUP BY h HAVING COUNT(*) >= 2
),
flags AS (SELECT DISTINCT doc_id, p FROM hashes JOIN dup USING (h)),
toks AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p, ws
  FROM w WHERE len(ws) > 0
),
cov AS (
  SELECT t.doc_id, t.p, t.ws[t.p] AS tok,
         MAX(CASE WHEN f.p IS NOT NULL THEN 1 ELSE 0 END) OVER (
           PARTITION BY t.doc_id ORDER BY t.p
           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS c
  FROM toks t LEFT JOIN flags f ON t.doc_id = f.doc_id AND t.p = f.p
)
SELECT w.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(w.ws) - COALESCE(k.nk, 0) AS BIGINT) AS n_removed
FROM w
LEFT JOIN (
  SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
         COUNT(*) AS nk
  FROM cov WHERE c = 0 GROUP BY doc_id
) k USING (doc_id)
"""

    # temperature mix on lang at alpha=0.5: keep-rate (n/min_n)^(-0.5),
    # deterministic md5 bucket decision
    o["doc_temperature_mix"] = r"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
r AS (SELECT lang, POW(n / (SELECT MIN(n) FROM c), -0.5) AS rate FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE (('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       % 1000000) < rate * 1000000
"""

    # paragraph-level first-occurrence dedup over the augmented corpus
    o["dedup_paragraphs"] = rf"""
WITH d AS (SELECT doc_id, {_PARA_AUGMENT} AS t FROM documents),
sp AS (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS parts FROM d),
l AS (SELECT doc_id,
             unnest(list_transform(parts, x -> trim(x))) AS para,
             unnest(range(1, len(parts) + 1)) AS i
      FROM sp),
nz AS (SELECT doc_id, i, para, md5(para) AS h FROM l WHERE para <> ''),
keep AS (
  SELECT doc_id, i FROM (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
    FROM nz
  ) WHERE rn = 1
),
np AS (SELECT doc_id, COUNT(*) AS n FROM nz GROUP BY doc_id),
rb AS (SELECT nz.doc_id,
              array_to_string(list(nz.para ORDER BY nz.i),
                              chr(10) || chr(10)) AS clean_text,
              COUNT(*) AS n_kept
       FROM nz JOIN keep ON nz.doc_id = keep.doc_id AND nz.i = keep.i
       GROUP BY nz.doc_id)
SELECT np.doc_id,
       COALESCE(rb.clean_text, '') AS clean_text,
       CAST(np.n - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_removed
FROM np LEFT JOIN rb ON np.doc_id = rb.doc_id
"""

    # greedy longest-match subword segmentation against the self-trained
    # vocab (all corpus chars + top-64 words) — recursive CTE replica of
    # pipeline/tokenizer.greedy_segment
    o["doc_subword_stats"] = r"""
WITH RECURSIVE
w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws
  FROM w WHERE len(ws) > 0
),
tok2 AS (SELECT doc_id, pos, ws[pos] AS wd FROM toks),
dw AS (SELECT DISTINCT wd FROM tok2),
chars AS (
  SELECT DISTINCT unnest(regexp_extract_all(wd, '.')) AS piece FROM dw
),
topw AS (
  SELECT wd AS piece FROM (
    SELECT wd, COUNT(*) AS c FROM tok2 GROUP BY wd
    ORDER BY c DESC, wd ASC LIMIT 64
  )
),
vocab AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM chars UNION ALL SELECT piece FROM topw
  )
),
seg AS (
  SELECT wd, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM dw
  UNION ALL
  SELECT wd, pos + GREATEST(ml, 1),
         list_append(pieces,
                     CASE WHEN ml > 0 THEN substr(wd, pos, ml)
                          ELSE '<unk>' END)
  FROM (
    SELECT s.wd, s.pos, s.pieces,
           COALESCE((SELECT MAX(len(piece)) FROM vocab
                     WHERE piece = substr(s.wd, s.pos, len(piece))), 0) AS ml
    FROM seg s WHERE s.pos <= len(s.wd)
  )
),
final AS (SELECT wd, pieces FROM seg WHERE pos = len(wd) + 1)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(f.pieces)) AS BIGINT) AS n_pieces,
       array_to_string(flatten(list(f.pieces ORDER BY t.pos)), ' ') AS pieces_text
FROM tok2 t JOIN final f USING (wd)
GROUP BY t.doc_id
"""

    # C4-style line filtering over the augmented corpus (same augmentation
    # expression as the Spark entry)
    o["doc_c4_filter"] = rf"""
WITH d AS (SELECT doc_id, {_C4_AUGMENT} AS t FROM documents),
ll AS (SELECT doc_id,
         list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
       FROM d),
k AS (SELECT doc_id, lines,
        list_filter(lines, x ->
           regexp_matches(x, '[.!?"'']$')
           AND len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) >= 3
           AND NOT contains(lower(x), 'lorem ipsum')
           AND NOT contains(lower(x), 'javascript')
           AND NOT contains(lower(x), 'cookie policy')
           AND NOT contains(lower(x), 'privacy policy')
           AND NOT contains(lower(x), 'terms of use')
           AND NOT contains(lower(x), '{{')
        ) AS kept
      FROM ll)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       len(kept) >= 2 AS keep
FROM k
"""

    # Gopher/MassiveWeb quality rules over the same augmented corpus as
    # the Spark entry (bullet/ellipsis thresholds 0.2; other thresholds
    # are the Rae et al. 2021 Appendix A.1.1 defaults)
    o["doc_gopher_quality"] = rf"""
WITH d AS (SELECT doc_id, {_GOPHER_AUGMENT} AS t FROM documents),
w AS (SELECT doc_id, t,
        list_filter(string_split_regex(trim(t), '\s+'), x -> x <> '') AS ws,
        list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                    x -> x <> '') AS ls
      FROM d),
s AS (SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        len(ls) AS n_lines,
        len(t) - len(replace(t, '#', '')) AS n_hash,
        (len(t) - len(replace(t, '...', ''))) / 3.0 AS n_ell,
        list_sum(list_transform(ws, x -> len(x))) AS sum_wl,
        len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        len(list_filter(ls, x -> regexp_matches(x, '^[-*•·]'))) AS n_bullet,
        len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)$'))) AS n_elll,
        (CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'the')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'be')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'to')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'of')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'and')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'that')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'have')
              THEN 1 ELSE 0 END
         + CASE WHEN list_contains(list_transform(ws, x -> lower(x)), 'with')
              THEN 1 ELSE 0 END) AS n_stop_hits
      FROM w),
r AS (SELECT doc_id, n_words,
        CASE WHEN n_words > 0 THEN ROUND(sum_wl / n_words, 6)
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN n_words > 0 THEN ROUND((n_hash + n_ell) / n_words, 6)
             ELSE 0.0 END AS symbol_ratio,
        CASE WHEN n_lines > 0 THEN ROUND(n_bullet / (n_lines * 1.0), 6)
             ELSE 0.0 END AS frac_bullet_lines,
        CASE WHEN n_lines > 0 THEN ROUND(n_elll / (n_lines * 1.0), 6)
             ELSE 0.0 END AS frac_ellipsis_lines,
        CASE WHEN n_words > 0 THEN ROUND(n_alpha / (n_words * 1.0), 6)
             ELSE 0.0 END AS frac_alpha_words,
        CAST(n_stop_hits AS BIGINT) AS n_stop_hits
      FROM s)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_bullet_lines,
       frac_ellipsis_lines, frac_alpha_words, n_stop_hits,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio < 0.1
        AND frac_bullet_lines < 0.2
        AND frac_ellipsis_lines < 0.2
        AND frac_alpha_words > 0.8
        AND n_stop_hits >= 2) AS keep
FROM r
"""

    # DSIR hashed-ngram importance weights toward the lang='en' subset
    # (B=256 buckets, add-0.5 smoothing, unigram+bigram features)
    o["doc_dsir_weights"] = r"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, lang, unnest(ws) AS gram FROM w
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM w WHERE len(ws) >= 2
),
f AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir1:' || gram), 1, 8))::BIGINT % 256 AS bucket
  FROM g
),
tgt AS (SELECT bucket, COUNT(*) AS ct FROM f WHERE lang = 'en' GROUP BY bucket),
raw AS (SELECT bucket, COUNT(*) AS cr FROM f GROUP BY bucket),
tot AS (SELECT (SELECT SUM(ct) FROM tgt) AS nt, (SELECT SUM(cr) FROM raw) AS nr),
ratios AS (
  SELECT raw.bucket,
         ln((COALESCE(tgt.ct, 0) + 0.5) / (tot.nt + 0.5 * 256))
         - ln((raw.cr + 0.5) / (tot.nr + 0.5 * 256)) AS lr
  FROM raw LEFT JOIN tgt USING (bucket), tot
),
scored AS (
  SELECT f.doc_id, COUNT(*) AS n_feats, ROUND(SUM(r.lr), 6) AS weight
  FROM f JOIN ratios r USING (bucket)
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
       COALESCE(s.weight, 0.0) AS weight
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

    # deterministic hash split: names laid out on the ring in sorted
    # order (test < train < val), fractions 0.05 / 0.9 / 0.05
    o["doc_split_corpus"] = r"""
SELECT doc_id, lang,
       CASE
         WHEN ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000 < 50000 THEN 'test'
         WHEN ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000 < 950000 THEN 'train'
         ELSE 'val'
       END AS split
FROM documents
"""

    # deterministic global shuffle: shard + within-shard serving order
    o["doc_shard_corpus"] = r"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle1:shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 16 AS shard,
         ('0x' || substr(md5('shuffle1:ord:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000000 AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT)
         AS shard_pos
FROM h
"""

    # batch-SQL equivalent of the streaming stateful counter-increase:
    # reset-aware cumulative window sum in (sig, t) order
    # cents scaling mirrors the Spark entry (exact integer sums in any
    # window-aggregation order)
    o["stream_counter_increase"] = r"""
WITH e AS (SELECT event_type AS sig, event_id AS t,
                  CAST(ROUND(value * 100) AS DOUBLE) AS value FROM events),
d AS (SELECT sig, t, value,
             lag(value) OVER (PARTITION BY sig ORDER BY t) AS prev
      FROM e)
SELECT sig, t, value / 100 AS value,
       ROUND(SUM(CASE WHEN prev IS NULL THEN 0
                      WHEN value < prev THEN value
                      ELSE value - prev END)
               OVER (PARTITION BY sig ORDER BY t), 6) / 100 AS cum_increase,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)
              OVER (PARTITION BY sig ORDER BY t) AS BIGINT) AS resets
FROM d
"""

    # session_window semantics in SQL: lag+cumsum session assignment,
    # session end = last event + gap (30 min)
    o["events_session_window"] = r"""
WITH s AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, ts, value,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM g
GROUP BY user_id, sid
"""
    return o
