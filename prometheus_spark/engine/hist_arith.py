"""Native-histogram arithmetic over vector frames — the Python↔JVM bridge.

Histogram span-merge algebra (reference: model/histogram/float_histogram.go
Add/Sub/Compact/DetectReset; promql/functions.go:640 ``histogramRate``) is
irreducibly per-sample sequential, so it runs in Arrow-batched pandas UDFs —
``mapInPandas`` over key-sorted partitions with many (sig, t) groups per
Arrow batch (``_grouped_apply_batched``), never a pandas frame per group.
Histogram samples are a small fraction of any real workload; the float hot
path never enters Python.

Split frame contract (round 12): the folds are SIG-NATIVE — input and
output rows carry the series/group signature string only, never the
labels map.  Labels live in the caller's dim and join back per SERIES
at output shaping (engine finalize), so the Arrow transfer, the
repartition shuffle and the per-row emit all stay ~40 bytes/row
regardless of label width.  The three legacy-frame consumers
(``binop_add_sub``, ``trim_scalar``, ``smoothed_instant_hist``) keep
labels inline in their own contract by joining them back from a
deduped (sig, labels) dim after the sig-native fold.

Arrow marshalling rules (hard-won):
- list columns must be ``dtype=object`` and every batch must yield a
  correctly-shaped DataFrame even when empty.
"""

from __future__ import annotations

import functools

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_spark.engine.context import EvalContext
from prometheus_spark.model.labels import sig_expr
from prometheus_spark.model.schema import HISTOGRAM_TYPE

_FLAT_FIELDS = [
    T.StructField("sig", T.StringType()),
    T.StructField("t", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("has_hist", T.BooleanType()),
    T.StructField("h_schema", T.IntegerType()),
    T.StructField("h_zt", T.DoubleType()),
    T.StructField("h_zc", T.DoubleType()),
    T.StructField("h_count", T.DoubleType()),
    T.StructField("h_sum", T.DoubleType()),
    T.StructField("h_pos_off", T.ArrayType(T.IntegerType())),
    T.StructField("h_pos_len", T.ArrayType(T.IntegerType())),
    T.StructField("h_pos_bkt", T.ArrayType(T.DoubleType())),
    T.StructField("h_neg_off", T.ArrayType(T.IntegerType())),
    T.StructField("h_neg_len", T.ArrayType(T.IntegerType())),
    T.StructField("h_neg_bkt", T.ArrayType(T.DoubleType())),
    T.StructField("h_custom", T.ArrayType(T.DoubleType())),
    T.StructField("h_hint", T.IntegerType()),
]
FLAT_SCHEMA = T.StructType(_FLAT_FIELDS)

_EMPTY = {
    "sig": [], "t": [], "value": [], "has_hist": [],
    "h_schema": [], "h_zt": [], "h_zc": [], "h_count": [], "h_sum": [],
    "h_pos_off": [], "h_pos_len": [], "h_pos_bkt": [],
    "h_neg_off": [], "h_neg_len": [], "h_neg_bkt": [],
    "h_custom": [], "h_hint": [],
}


def _emit_pdf(rows: dict):
    """Build a correctly-typed pandas DataFrame from parallel lists."""
    import pandas as pd

    object_cols = {
        "sig", "h_pos_off", "h_pos_len", "h_pos_bkt",
        "h_neg_off", "h_neg_len", "h_neg_bkt", "h_custom",
    }
    data = {}
    for f in _FLAT_FIELDS:
        col = rows[f.name]
        if f.name in object_cols:
            data[f.name] = pd.Series(col, dtype=object)
        elif f.name == "t":
            data[f.name] = pd.Series(col, dtype="int64")
        elif f.name == "has_hist":
            data[f.name] = pd.Series(col, dtype=bool)
        else:
            data[f.name] = pd.Series(col, dtype=object)  # nullable numerics
    return pd.DataFrame(data)


def _append_row(rows: dict, sig: str, t: int, value, fh) -> None:
    rows["sig"].append(sig)
    rows["t"].append(int(t))
    rows["value"].append(value)
    if fh is None:
        rows["has_hist"].append(False)
        for k in ("h_schema", "h_zt", "h_zc", "h_count", "h_sum", "h_hint"):
            rows[k].append(None)
        for k in ("h_pos_off", "h_pos_len", "h_pos_bkt",
                  "h_neg_off", "h_neg_len", "h_neg_bkt", "h_custom"):
            rows[k].append(None)
        return
    rows["has_hist"].append(True)
    rows["h_schema"].append(int(fh.schema))
    rows["h_zt"].append(float(fh.zero_threshold))
    rows["h_zc"].append(float(fh.zero_count))
    rows["h_count"].append(float(fh.count))
    rows["h_sum"].append(float(fh.sum))
    rows["h_pos_off"].append([int(o) for o, _ in fh.pos_spans])
    rows["h_pos_len"].append([int(n) for _, n in fh.pos_spans])
    rows["h_pos_bkt"].append([float(b) for b in fh.pos_buckets])
    rows["h_neg_off"].append([int(o) for o, _ in fh.neg_spans])
    rows["h_neg_len"].append([int(n) for _, n in fh.neg_spans])
    rows["h_neg_bkt"].append([float(b) for b in fh.neg_buckets])
    rows["h_custom"].append([float(v) for v in fh.custom_values])
    rows["h_hint"].append(int(fh.counter_reset_hint))


def _fresh() -> dict:
    return {k: list(v) for k, v in _EMPTY.items()}


def _grouped_apply_batched(src: DataFrame, keys, process) -> DataFrame:
    """Grouped map without a pandas frame round-trip per group.

    ``groupBy(...).applyInPandas`` hands every (sig, t) group its own
    DataFrame and collects one back — ~ms of pandas overhead per group,
    which dominates when histogram groups are tiny and numerous.  Here
    the shuffle is the same (repartition by the leading key), partitions
    are sorted by the full key, and one Arrow batch spans MANY groups:
    ``process(group_pdf, rows)`` appends its output into a shared
    column-list buffer, and a frame is materialized once per ~batch.

    Groups can straddle Arrow-batch boundaries; the (contiguous,
    because sorted) tail group of each batch is carried into the next.
    """
    import pandas as pd

    keys = list(keys)
    # hash on the FULL key: grouping (sig, t) by sig alone serializes
    # low-sig-cardinality shapes — a global sum() has ONE output sig, so
    # every (t) group landed in a single task
    part = src.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(*keys)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        carry = None
        rows = _fresh()
        emitted = False

        def run(pdf):
            for _, g in pdf.groupby(keys, sort=False):
                process(g, rows)

        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # partition is key-sorted → the last group is the contiguous
            # run of rows equal to the final key
            mask = pd.Series(True, index=pdf.index)
            for k in keys:
                mask &= pdf[k] == pdf[k].iloc[-1]
            tail_start = len(pdf) - int(mask.sum())
            carry = pdf.iloc[tail_start:]
            run(pdf.iloc[:tail_start])
            if len(rows["t"]) >= 8192:
                emitted = True
                yield _emit_pdf(rows)
                rows = _fresh()
        if carry is not None and len(carry):
            run(carry)
        if rows["t"] or not emitted:
            yield _emit_pdf(rows)

    return part.mapInPandas(batches, FLAT_SCHEMA)


def assemble(df: DataFrame, drop_name: bool = False) -> DataFrame:
    """Flattened Python output → split-contract FACT frame
    (sig, t, sample_t, value, drop_name, hist) — sig passes through
    from the fold; labels stay on the caller's dim.

    The projection is one static SQL string (composed once at import) —
    assemble runs on every histogram-path query, and the old per-call
    Column construction was a measurable slice of hist plan-build time."""
    return df.selectExpr(*_ASSEMBLE_COLS(bool(drop_name)))


@functools.lru_cache(maxsize=2)
def _ASSEMBLE_COLS(drop_name: bool) -> tuple:
    htype = HISTOGRAM_TYPE.simpleString()
    hist = (
        "CAST(named_struct("
        "'schema', h_schema, 'zero_threshold', h_zt, 'zero_count', h_zc, "
        "'count', h_count, 'sum', h_sum, "
        "'pos_spans', arrays_zip(h_pos_off, h_pos_len), "
        "'pos_buckets', h_pos_bkt, "
        "'neg_spans', arrays_zip(h_neg_off, h_neg_len), "
        "'neg_buckets', h_neg_bkt, "
        "'custom_values', h_custom, "
        "'counter_reset_hint', CAST(h_hint AS TINYINT)"
        f") AS {htype})"
    )
    # delayed name removal: drop_name flags the row; the engine's
    # finalization strips the metadata labels on the DIM side.
    # pandas→Arrow folds NaN into null in the float column; histogram rows
    # legitimately carry NULL value, so only coalesce non-hist rows
    value = (
        "CASE WHEN has_hist THEN CAST(NULL AS DOUBLE) "
        "ELSE coalesce(value, CAST('NaN' AS DOUBLE)) END"
    )
    return (
        "sig",
        "t",
        "t AS sample_t",
        value + " AS value",
        f"{str(drop_name).lower()} AS drop_name",
        f"CASE WHEN has_hist THEN {hist} END AS hist",
    )


def _with_labels_back(ctx: EvalContext, fact: DataFrame, ldim: DataFrame) -> DataFrame:
    """Legacy-frame adapter: join labels back onto a sig-native fold
    output (the three label-entangled consumers keep labels inline in
    their own contract)."""
    cols = [c for c in fact.columns if c != "sig"]
    return fact.join(ctx.dim_hint(ldim), "sig").select("sig", "labels", *cols)


def binop_add_sub(ctx: EvalContext, pairs: DataFrame, sub: bool) -> DataFrame:
    """hist ± hist over joined pairs (engine.go:3484 ``vectorElemBinop``
    ADD/SUB histogram case).  ``pairs``: (labels, t, __lh, __rh) with both
    histograms non-null.  Incompatible schemas drop the sample.  The fold
    runs sig-native (labels never cross Arrow); labels join back from the
    pair-derived dim to keep the caller's legacy inline-labels frame."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    keyed = pairs.select(
        sig_expr(F.col("labels")).alias("sig"), "labels", "t", "__lh", "__rh"
    )
    ldim = ctx.dim_dedup(keyed.select("sig", "labels"))
    src = keyed.select("sig", "t", "__lh", "__rh")

    def batches(it: Iterator) -> Iterator:
        from prometheus_spark.model.histogram import (
            GAUGE_TYPE,
            HistIncompatibleSchema,
            from_row,
        )

        for pdf in it:
            rows = _fresh()
            # itertuples mangles leading-underscore names; zip columns
            for sig, t, lh, rh in zip(
                pdf["sig"], pdf["t"], pdf["__lh"], pdf["__rh"]
            ):
                l, r = from_row(lh), from_row(rh)
                try:
                    l.add(r, sub=sub)
                except HistIncompatibleSchema:
                    continue
                if sub:
                    l.counter_reset_hint = GAUGE_TYPE
                l.compact()
                _append_row(rows, sig, t, None, l)
            yield _emit_pdf(rows)

    # hist±hist changes the metric schema → flag for delayed name removal
    out = assemble(src.mapInPandas(batches, FLAT_SCHEMA), drop_name=True)
    return _with_labels_back(ctx, out, ldim)


def trim_scalar(ctx: EvalContext, src: DataFrame, is_upper: bool) -> DataFrame:
    """``</`` / ``>/`` — histogram bucket trimming by a scalar
    (vectorElemBinop TRIM_UPPER/TRIM_LOWER; float_histogram.go:2129).
    ``src``: (labels, t, hist, __s) with hist non-null.  Sig-native fold
    + labels join-back, like :func:`binop_add_sub`."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    keyed = src.select(
        sig_expr(F.col("labels")).alias("sig"), "labels", "t", "hist", "__s"
    )
    ldim = ctx.dim_dedup(keyed.select("sig", "labels"))

    def batches(it: Iterator) -> Iterator:
        from prometheus_spark.model.histogram import from_row, hist_trim_buckets

        for pdf in it:
            rows = _fresh()
            for sig, t, hd, s in zip(
                pdf["sig"], pdf["t"], pdf["hist"], pdf["__s"]
            ):
                h = hist_trim_buckets(from_row(hd), float(s), is_upper)
                _append_row(rows, sig, t, None, h)
            yield _emit_pdf(rows)

    out = assemble(
        keyed.select("sig", "t", "hist", "__s").mapInPandas(batches, FLAT_SCHEMA)
    )
    return _with_labels_back(ctx, out, ldim)


def group_sum(
    ctx: EvalContext,
    df: DataFrame,
    avg: bool,
    drop_name: bool = False,
    order_col: str = "__ord",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Sum/avg histograms per (sig, t) group (engine.go:3716 ``KahanAdd``
    path).  ``df``: (sig, t, hist, <order_col>) with hist non-null —
    sig is the GROUP signature (split contract; labels live on the
    caller's gdim and never enter the fold);
    ``order_col`` fixes the Kahan summation order (the reference iterates
    series in label order / samples in time order — compensation is
    order-sensitive).  Groups with incompatible schemas are dropped.
    ``pre_partitioned``: the caller guarantees ``df`` is already
    hash-partitioned by (sig, t) (e.g. it forked off a shared
    repartition) — skip the exchange, only sort within partitions.

    Execution: a ``mapInArrow`` stage over (sig, t, ord)-sorted
    partitions.  When every histogram in an Arrow chunk shares one
    bucket LAYOUT (schema, zero threshold, span structure, custom
    bounds) — the overwhelmingly common case, since a metric family's
    series share their exposition layout — the whole normal-form fold
    collapses to an element-wise Kahan sum over a (rows × buckets)
    float64 matrix, iterated POSITIONALLY across all groups at once
    (iteration k folds the k-th member of every group — max-group-size
    vectorized steps instead of a Python op per row×bucket).  The fold
    order and every float operation replicate ``_kahan_inc`` /
    ``_fold_parts`` bit-for-bit; mixed-layout groups fall back to the
    scalar ``hist_sum``/``hist_mean`` path (``_group_sum_pandas`` is
    the all-scalar spelling, kept as the differential-parity
    reference)."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    src = df.select("sig", "t", "hist", F.col(order_col).alias("__ord"))
    if not pre_partitioned:
        src = src.repartition(F.col("sig"), F.col("t"))
    part = src.sortWithinPartitions("sig", "t", "__ord")
    out = part.mapInArrow(_gs_arrow_fn(avg), FLAT_SCHEMA)
    return assemble(out, drop_name=drop_name)


def _group_sum_pandas(
    ctx: EvalContext,
    df: DataFrame,
    avg: bool,
    drop_name: bool = False,
    order_col: str = "__ord",
) -> DataFrame:
    """Scalar reference implementation of :func:`group_sum` (per-group
    ``from_row`` + ``hist_sum`` Python fold) — the differential-parity
    baseline for the vectorized path."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    src = df.select("sig", "t", "hist", F.col(order_col).alias("__ord"))

    def one_group(pdf, rows):
        from prometheus_spark.model.histogram import from_row, hist_mean, hist_sum

        pdf = pdf.sort_values("__ord")
        hists = [from_row(h) for h in pdf["hist"]]
        acc, incompatible = (hist_mean if avg else hist_sum)(hists)
        if acc is not None and not incompatible:
            _append_row(rows, str(pdf["sig"].iloc[0]), pdf["t"].iloc[0], None, acc)
        return

    out = _grouped_apply_batched(src, ("sig", "t"), one_group)
    return assemble(out, drop_name=drop_name)


def _pa_flat_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("sig", pa.string()),
            ("t", pa.int64()),
            ("value", pa.float64()),
            ("has_hist", pa.bool_()),
            ("h_schema", pa.int32()),
            ("h_zt", pa.float64()),
            ("h_zc", pa.float64()),
            ("h_count", pa.float64()),
            ("h_sum", pa.float64()),
            ("h_pos_off", pa.list_(pa.int32())),
            ("h_pos_len", pa.list_(pa.int32())),
            ("h_pos_bkt", pa.list_(pa.float64())),
            ("h_neg_off", pa.list_(pa.int32())),
            ("h_neg_len", pa.list_(pa.int32())),
            ("h_neg_bkt", pa.list_(pa.float64())),
            ("h_custom", pa.list_(pa.float64())),
            ("h_hint", pa.int32()),
        ]
    )


def _kahan_fold_segments(M, starts, lens):
    """Element-wise Kahan fold of matrix-row segments, positionally
    vectorized: iteration k adds row (start+k) of every still-active
    segment.  Bit-identical to running ``_kahan_inc`` down each segment
    column-wise (same op order per element; ``np.where`` evaluates both
    branch expressions but selects the scalar code's branch)."""
    import numpy as np

    g, w = len(starts), M.shape[1]
    s = np.zeros((g, w))
    c = np.zeros((g, w))
    maxlen = int(lens.max()) if g else 0
    for k in range(maxlen):
        active = lens > k
        rows = M[starts[active] + k]
        sa = s[active]
        ca = c[active]
        t = sa + rows
        ca = np.where(
            np.abs(sa) >= np.abs(rows),
            ca + ((sa - t) + rows),
            ca + ((rows - t) + sa),
        )
        ca[np.isinf(t)] = 0.0  # kahansum.Inc: overflow resets compensation
        s[active] = t
        c[active] = ca
    return s + c


def _gs_arrow_fn(avg: bool):
    """Build the ``mapInArrow`` batches function for :func:`group_sum`."""

    def batches(it):
        import pyarrow as pa

        out_schema = _pa_flat_schema()
        carry = None  # pa.Table tail: the (possibly incomplete) last group
        emitted = False
        for batch in it:
            tbl = pa.Table.from_batches([batch], schema=batch.schema)
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl])
                carry = None
            n = tbl.num_rows
            if n == 0:
                continue
            # partition is (sig, t)-sorted → the final group is the
            # contiguous run equal to the last key; hold it for the next
            # batch so no group is split across fold calls
            import pyarrow.compute as pc

            last_sig = tbl.column("sig")[n - 1]
            last_t = tbl.column("t")[n - 1]
            tail_mask = pc.and_(
                pc.equal(tbl.column("sig"), last_sig),
                pc.equal(tbl.column("t"), last_t),
            )
            tail_n = pc.sum(pc.cast(tail_mask, pa.int64())).as_py() or 0
            carry = tbl.slice(n - tail_n)
            head = tbl.slice(0, n - tail_n)
            if head.num_rows:
                rb = _gs_fold_chunk(head, avg, out_schema)
                if rb is not None and rb.num_rows:
                    emitted = True
                    yield rb
        if carry is not None and carry.num_rows:
            rb = _gs_fold_chunk(carry, avg, out_schema)
            if rb is not None and rb.num_rows:
                emitted = True
                yield rb
        if not emitted:
            yield pa.RecordBatch.from_pydict(
                {f.name: [] for f in out_schema}, schema=out_schema
            )

    return batches


def _gs_fold_chunk(tbl, avg: bool, out_schema, retier: bool = True):
    """Fold one (sig, t)-sorted chunk of COMPLETE groups into one output
    RecordBatch (one row per surviving group)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from prometheus_spark.model.histogram import from_row, hist_mean, hist_sum

    tbl = tbl.combine_chunks()
    b = tbl.to_batches()[0] if tbl.num_rows else None
    if b is None:
        return None
    hist = b.column(tbl.schema.get_field_index("hist"))
    if hist.null_count:
        # hist_sum drops None members (and hist_mean's n counts only
        # non-null) — filtering them up front is equivalent
        b = b.filter(hist.is_valid())
        if b.num_rows == 0:
            return None
        hist = b.column(tbl.schema.get_field_index("hist"))
    n = b.num_rows
    t_np = b.column(tbl.schema.get_field_index("t")).to_numpy(zero_copy_only=False)
    sig_codes = pc.dictionary_encode(
        b.column(tbl.schema.get_field_index("sig"))
    ).indices.to_numpy(zero_copy_only=False)
    new = np.empty(n, dtype=bool)
    new[0] = True
    if n > 1:
        new[1:] = (t_np[1:] != t_np[:-1]) | (sig_codes[1:] != sig_codes[:-1])
    starts = np.flatnonzero(new)
    lens = np.diff(np.append(starts, n))
    sig_arr = b.column(tbl.schema.get_field_index("sig"))

    rows = _fresh()
    sub_batches = []
    ok, parsed = _gs_try_uniform(hist, n)
    if ok:
        _gs_fold_uniform(parsed, t_np, starts, lens, sig_arr, avg, rows)
        scalar_groups = []
    else:
        # mixed layouts in the chunk: middle tier — groups whose rows
        # share ONE layout are gathered per layout and re-enter the
        # vectorized fold (take() compacts them into a uniform batch);
        # only genuinely mixed-layout groups pay the scalar normal-form
        # algebra.  retier=False guards the recursion: a re-gathered
        # batch is uniform by construction, but if the layout key ever
        # under-approximates _gs_try_uniform, fall scalar, never loop.
        scalar_groups = list(range(len(starts)))
        keys = _gs_layout_keys(hist, n) if retier else None
        if keys is not None:
            by_layout: dict = {}
            scalar_groups = []
            for gi in range(len(starts)):
                s0, ln = int(starts[gi]), int(lens[gi])
                k0 = keys[s0]
                if all(keys[r] == k0 for r in range(s0 + 1, s0 + ln)):
                    by_layout.setdefault(k0, []).append(gi)
                else:
                    scalar_groups.append(gi)
            tbl2 = pa.Table.from_batches([b])
            for gids in by_layout.values():
                idx = np.concatenate(
                    [np.arange(starts[gi], starts[gi] + lens[gi]) for gi in gids]
                )
                rb = _gs_fold_chunk(
                    tbl2.take(pa.array(idx)), avg, out_schema, retier=False
                )
                if rb is not None and rb.num_rows:
                    sub_batches.append(rb)
        if scalar_groups:
            hl = hist.to_pylist()
            for gi in scalar_groups:
                s0, ln = int(starts[gi]), int(lens[gi])
                hists = [from_row(hl[i]) for i in range(s0, s0 + ln)]
                acc, incompatible = (hist_mean if avg else hist_sum)(hists)
                if acc is not None and not incompatible:
                    _append_row(
                        rows, _gs_sig_at(sig_arr, s0), int(t_np[s0]),
                        None, acc,
                    )
    if rows["t"]:
        sub_batches.append(pa.RecordBatch.from_pydict(rows, schema=out_schema))
    if not sub_batches:
        return None
    if len(sub_batches) == 1:
        return sub_batches[0]
    merged = pa.Table.from_batches(sub_batches).combine_chunks()
    return merged.to_batches()[0]


def _gs_sig_at(sig_arr, i: int) -> str:
    v = sig_arr[i].as_py()
    return v if v is not None else ""


def _gs_list_parts(arr, n):
    """ListArray → (per-row counts, flat values ndarray rebased to the
    logical slice, ok).  ok=False when null list slots are present (the
    scalar path treats null as [], which offsets can't express safely)."""
    import numpy as np

    if arr.null_count:
        return None, None, False
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.diff(offs)
    return counts, offs, True


def _gs_layout_keys(hist, n):
    """Per-row bucket-layout keys (hashable tuples) for the mixed-layout
    middle tier: rows sharing a key satisfy :func:`_gs_try_uniform` when
    gathered into their own batch (same schema, zero threshold, span
    content, bucket counts, custom bounds).  Returns None when nulls in
    any histogram field force the scalar path."""
    import numpy as np
    import pyarrow as pa

    def fld(name):
        f = hist.field(name)
        if isinstance(f, pa.ChunkedArray):  # pragma: no cover
            f = f.combine_chunks()
        return f

    for name in ("schema", "zero_threshold", "zero_count", "count", "sum",
                 "counter_reset_hint"):
        if fld(name).null_count:
            return None
    sc_np = fld("schema").to_numpy(zero_copy_only=False)
    zt_np = fld("zero_threshold").to_numpy(zero_copy_only=False)
    blobs = []
    for name, is_span in (("pos_spans", True), ("neg_spans", True),
                          ("custom_values", False)):
        arr = fld(name)
        counts, offs, okc = _gs_list_parts(arr, n)
        if not okc:
            return None
        if is_span:
            st = arr.values
            o = st.field("offset").to_numpy(zero_copy_only=False).astype(np.int32)
            ln = st.field("length").to_numpy(zero_copy_only=False).astype(np.int32)
            flat = (np.column_stack([o, ln]) if len(o)
                    else np.empty((0, 2), np.int32))
        else:
            flat = arr.values.to_numpy(zero_copy_only=False)
        blobs.append((offs, flat))
    pb_counts, _, ok1 = _gs_list_parts(fld("pos_buckets"), n)
    nb_counts, _, ok2 = _gs_list_parts(fld("neg_buckets"), n)
    if not (ok1 and ok2):
        return None
    keys = []
    for i in range(n):
        key = (int(sc_np[i]), float(zt_np[i]),
               int(pb_counts[i]), int(nb_counts[i]))
        for offs, flat in blobs:
            key += (flat[offs[i] : offs[i + 1]].tobytes(),)
        keys.append(key)
    return keys


def _gs_try_uniform(hist, n):
    """Check chunk-wide layout uniformity and pre-extract the numpy
    views the vectorized fold needs.  Returns (ok, parsed)."""
    import numpy as np
    import pyarrow as pa

    from prometheus_spark.model.histogram import from_row

    def fld(name):
        f = hist.field(name)
        if isinstance(f, pa.ChunkedArray):  # pragma: no cover
            f = f.combine_chunks()
        return f

    scalars = {}
    for name in ("schema", "zero_threshold", "zero_count", "count", "sum",
                 "counter_reset_hint"):
        a = fld(name)
        if a.null_count:
            return False, None
        scalars[name] = a.to_numpy(zero_copy_only=False)
    schema_np = scalars["schema"]
    zt_np = scalars["zero_threshold"]
    if not (schema_np == schema_np[0]).all() or not (zt_np == zt_np[0]).all():
        return False, None

    def list_mat(name, dtype):
        """Uniform-width list column → (n, w) matrix (or None on ragged
        widths / nulls)."""
        arr = fld(name)
        counts, offs, ok = _gs_list_parts(arr, n)
        if not ok:
            return None, None
        w = int(counts[0]) if len(counts) else 0
        if not (counts == w).all():
            return None, None
        if w == 0:
            return np.empty((n, 0), dtype=dtype), arr
        flat = arr.values.to_numpy(zero_copy_only=False).astype(dtype)
        return flat[offs[0] : offs[-1]].reshape(n, w), arr

    def span_mats(name):
        arr = fld(name)
        counts, offs, ok = _gs_list_parts(arr, n)
        if not ok:
            return None
        w = int(counts[0]) if len(counts) else 0
        if not (counts == w).all():
            return None
        if w == 0:
            return np.empty((n, 0), np.int64), np.empty((n, 0), np.int64)
        st = arr.values  # StructArray(offset, length), child of the list
        o = st.field("offset").to_numpy(zero_copy_only=False).astype(np.int64)
        ln = st.field("length").to_numpy(zero_copy_only=False).astype(np.int64)
        return (
            o[offs[0] : offs[-1]].reshape(n, w),
            ln[offs[0] : offs[-1]].reshape(n, w),
        )

    ps = span_mats("pos_spans")
    ns = span_mats("neg_spans")
    if ps is None or ns is None:
        return False, None
    for mat in (*ps, *ns):
        if mat.size and not (mat == mat[0]).all():
            return False, None
    pos_mat, _ = list_mat("pos_buckets", np.float64)
    neg_mat, _ = list_mat("neg_buckets", np.float64)
    cus_mat, _ = list_mat("custom_values", np.float64)
    if pos_mat is None or neg_mat is None or cus_mat is None:
        return False, None
    if cus_mat.size and not (cus_mat == cus_mat[0]).all():
        return False, None
    tmpl = from_row(hist.slice(0, 1).to_pylist()[0])
    if len(tmpl.pos_buckets) != pos_mat.shape[1] or len(tmpl.neg_buckets) != neg_mat.shape[1]:
        return False, None  # pragma: no cover - span/bucket length mismatch
    return True, {
        "tmpl": tmpl,
        "cnt": scalars["count"],
        "sum": scalars["sum"],
        "zc": scalars["zero_count"],
        "hint": scalars["counter_reset_hint"].astype(np.int64),
        "pos": pos_mat,
        "neg": neg_mat,
    }


def _gs_fold_uniform(parsed, t_np, starts, lens, sig_arr, avg, rows):
    """The vectorized uniform-layout fold: replicates
    ``_normal_forms`` + ``_fold_parts`` (+ ``hist_mean``'s overflow
    fallback and ÷n) for histograms sharing one layout."""
    import numpy as np

    from prometheus_spark.model.histogram import (
        GAUGE_TYPE,
        UNKNOWN_RESET,
        FloatHist,
    )

    tmpl = parsed["tmpl"]
    zt = tmpl.zero_threshold
    custom = tmpl.uses_custom_buckets()
    pos_idx = tmpl._indexes(tmpl.pos_spans)
    neg_idx = tmpl._indexes(tmpl.neg_spans)
    if custom:
        # _normal_forms custom branch: zc part is 0, neg maps ignored,
        # no bound filter (identical custom_values → no remap)
        kept_pos = list(range(len(pos_idx)))
        kept_neg = []
        zc_col = np.zeros(len(parsed["cnt"]))
    else:
        # equal zero thresholds → _zero_fold is the identity; the bound
        # filter depends only on (idx, schema, zt) → compute once
        kept_pos = [
            j for j, i in enumerate(pos_idx) if tmpl._exp_bounds(i)[1] > zt
        ]
        kept_neg = [
            j for j, i in enumerate(neg_idx) if tmpl._exp_bounds(i)[1] > zt
        ]
        zc_col = parsed["zc"]
    p = len(kept_pos)
    q = len(kept_neg)
    M = np.column_stack(
        [parsed["cnt"], parsed["sum"], zc_col]
        + ([parsed["pos"][:, kept_pos]] if p else [])
        + ([parsed["neg"][:, kept_neg]] if q else [])
    )
    tot = _kahan_fold_segments(M, starts, lens)
    # hint lattice fold: all-equal → value; any gauge (= max 3) → gauge;
    # else unknown — the sequential _fold_hint reduce has exactly these
    # three outcomes
    hint = parsed["hint"]
    hmin = np.minimum.reduceat(hint, starts)
    hmax = np.maximum.reduceat(hint, starts)
    hint_g = np.where(
        hmin == hmax, hmin, np.where(hmax == GAUGE_TYPE, GAUGE_TYPE, UNKNOWN_RESET)
    )
    over_fb = None
    if avg:
        # hist_mean overflow fallback: Σ overflowed but no input did →
        # refold Σ(h÷n).  Input overflow checks the UNFILTERED fields.
        row_over = (
            np.isinf(parsed["cnt"]) | np.isinf(parsed["sum"]) | np.isinf(parsed["zc"])
        )
        if parsed["pos"].size:
            row_over |= np.isinf(parsed["pos"]).any(axis=1)
        if parsed["neg"].size:
            row_over |= np.isinf(parsed["neg"]).any(axis=1)
        grp_in_over = np.maximum.reduceat(row_over.astype(np.int8), starts) > 0
        acc_over = np.isinf(tot).any(axis=1)
        fb = acc_over & ~grp_in_over
        if fb.any():
            over_fb = {}
            for gi in np.flatnonzero(fb):
                s0, ln = int(starts[gi]), int(lens[gi])
                seg = M[s0 : s0 + ln] / float(ln)
                over_fb[int(gi)] = _kahan_fold_segments(
                    seg, np.array([0]), np.array([ln])
                )[0]
    pos_keys = [pos_idx[j] for j in kept_pos]
    neg_keys = [neg_idx[j] for j in kept_neg]
    for gi in range(len(starts)):
        row = tot[gi]
        fallback = over_fb is not None and int(gi) in over_fb
        if fallback:
            row = over_fb[int(gi)]
        fh = FloatHist(
            schema=tmpl.schema,
            zero_threshold=zt,
            zero_count=float(row[2]),
            count=float(row[0]),
            sum=float(row[1]),
            custom_values=list(tmpl.custom_values),
            counter_reset_hint=int(hint_g[gi]),
        )
        fh._set_pos(dict(zip(pos_keys, map(float, row[3 : 3 + p]))))
        fh._set_neg(dict(zip(neg_keys, map(float, row[3 + p : 3 + p + q]))))
        fh.compact()  # _fold_parts returns out.compact()
        if avg and not fallback:
            fh.div(float(lens[gi]))
            fh.compact()
        _append_row(
            rows, _gs_sig_at(sig_arr, int(starts[gi])), int(t_np[starts[gi]]),
            None, fh,
        )


def window_rate(
    ctx: EvalContext,
    windowed: DataFrame,
    range_ms: int,
    is_counter: bool,
    is_rate: bool,
) -> DataFrame:
    """rate/increase/delta over all-histogram windows (functions.go:640
    ``histogramRate`` + :452 extrapolation).  ``windowed``: (sig, t,
    wend, sample_t, hist), hist non-null — split contract, labels on
    the caller's dim."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    if "st" not in windowed.columns:
        windowed = windowed.withColumn("st", F.lit(None).cast("long"))
    src = windowed.select("sig", "t", "wend", "sample_t", "hist", "st")
    range_s = range_ms / 1000.0

    def one_group(pdf, rows):
        from prometheus_spark.model.histogram import from_row, hist_rate

        pdf = pdf.sort_values("sample_t")
        points = [(int(t), from_row(h)) for t, h in zip(pdf["sample_t"], pdf["hist"])]
        sts = [None if st is None or st != st else int(st) for st in pdf["st"]]
        wend = int(pdf["wend"].iloc[0])
        first_t, last_t = points[0][0], points[-1][0]
        st0 = sts[0] or 0
        # first sample's ST inside the window: substitute a zero sample at
        # the ST for left extrapolation (functions.go:551); this also
        # enables single-sample rates
        st_cond = is_counter and st0 != 0 and (wend - range_ms) < st0 < first_t
        h = hist_rate(points, range_s, is_counter, is_rate, sts)
        if h is None and not (st_cond and len(points) == 1):
            return
        sampled = (last_t - first_t) / 1000.0
        avg_spacing = sampled / (len(points) - 1) if len(points) > 1 else 0.0
        threshold = avg_spacing * 1.1
        dur_start = (first_t - (wend - range_ms)) / 1000.0
        dur_end = (wend - last_t) / 1000.0
        if st_cond:
            dur_start = 0.0
            sampled = (last_t - st0) / 1000.0
            if h is None:
                h = points[0][1].copy()
            else:
                h.add(points[0][1])
        else:
            if dur_start >= threshold:
                dur_start = avg_spacing / 2.0
            if is_counter and h.count > 0 and points[0][1].count >= 0:
                dur_zero = sampled * (points[0][1].count / h.count)
                if dur_zero < dur_start:
                    dur_start = dur_zero
        if dur_end >= threshold:
            dur_end = avg_spacing / 2.0
        factor = (sampled + dur_start + dur_end) / sampled if sampled else 1.0
        if is_rate:
            factor /= range_s
        h.mul(factor)
        h.compact()
        from prometheus_spark.model.histogram import GAUGE_TYPE

        h.counter_reset_hint = GAUGE_TYPE
        _append_row(rows, str(pdf["sig"].iloc[0]), int(pdf["t"].iloc[0]), None, h)
        return

    out = _grouped_apply_batched(src, ("sig", "t"), one_group)
    return assemble(out, drop_name=True)


def window_instant_pair(ctx: EvalContext, windowed: DataFrame, is_rate: bool) -> DataFrame:
    """irate/idelta over windows containing histogram samples
    (functions.go ``instantValue``): last two samples of the combined
    float+histogram sequence; a mixed pair drops the series."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    if "st" not in windowed.columns:
        windowed = windowed.withColumn("st", F.lit(None).cast("long"))
    src = windowed.select("sig", "t", "sample_t", "value", "hist", "st")

    def one_group(pdf, rows):
        from prometheus_spark.model.histogram import (
            GAUGE_TYPE,
            HistIncompatibleSchema,
            from_row,
            st_reset,
        )

        pdf = pdf.sort_values("sample_t")
        if len(pdf) < 2:
            return
        t0, t1 = int(pdf["sample_t"].iloc[-2]), int(pdf["sample_t"].iloc[-1])
        if t1 == t0:
            return
        dt = (t1 - t0) / 1000.0
        h0 = from_row(pdf["hist"].iloc[-2]) if pdf["hist"].iloc[-2] is not None else None
        h1 = from_row(pdf["hist"].iloc[-1]) if pdf["hist"].iloc[-1] is not None else None
        s0, s1 = pdf["st"].iloc[-2], pdf["st"].iloc[-1]
        s0 = None if s0 is None or s0 != s0 else int(s0)
        s1 = None if s1 is None or s1 != s1 else int(s1)
        streset = st_reset(s0, t0, s1, t1)
        sig = str(pdf["sig"].iloc[0])
        t_out = int(pdf["t"].iloc[0])
        if h0 is None and h1 is None:
            v0, v1 = float(pdf["value"].iloc[-2]), float(pdf["value"].iloc[-1])
            res = v1 if (is_rate and (v1 < v0 or streset)) else v1 - v0
            if is_rate:
                res /= dt
            _append_row(rows, sig, t_out, res, None)
        elif h0 is not None and h1 is not None:
            res = h1.copy()
            try:
                if (not is_rate) or not (streset or h1.detect_reset(h0)):
                    res.add(h0, sub=True)
            except HistIncompatibleSchema:
                return
            res.counter_reset_hint = GAUGE_TYPE
            if is_rate:
                res.div(dt)
            res.compact()
            _append_row(rows, sig, t_out, None, res)
        # mixed float/histogram pair: drop
        return

    out = _grouped_apply_batched(src, ("sig", "t"), one_group)
    return assemble(out, drop_name=True)


def window_extended_rate(
    ctx: EvalContext,
    windowed: DataFrame,
    range_ms: int,
    is_counter: bool,
    is_rate: bool,
    smoothed: bool,
) -> DataFrame:
    """rate/increase/delta on anchored/smoothed all-histogram windows
    (functions.go:374 ``extendedHistogramRate``)."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    src = windowed.select("sig", "t", "sample_t", "orig_t", "hist", "wend", "role")

    def one_group(pdf, rows):
        from prometheus_spark.model.histogram import from_row, hist_extended_rate

        pdf = pdf.sort_values("sample_t")
        points = [
            (int(ot), from_row(h), r)
            for ot, h, r in zip(pdf["orig_t"], pdf["hist"], pdf["role"])
            if h is not None
        ]
        if len(points) != len(pdf):  # mixed float/histogram window
            return
        h = hist_extended_rate(
            points, range_ms, int(pdf["wend"].iloc[0]), is_counter, is_rate, smoothed
        )
        if h is not None:
            _append_row(rows, str(pdf["sig"].iloc[0]), int(pdf["t"].iloc[0]), None, h)
        return

    out = _grouped_apply_batched(src, ("sig", "t"), one_group)
    return assemble(out, drop_name=True)


def smoothed_instant_hist(
    ctx: EvalContext, df: DataFrame, offset: int, at=None
) -> DataFrame:
    """Instant smoothed selector over series carrying histogram samples
    (engine.go ``smoothSeries`` histogram branch): exact sample → copy;
    surrounded → interpolateHistograms (counter unless both gauge); only a
    preceding sample → carry forward with hint reset to unknown; a step
    window mixing floats and histograms is skipped, and a float-only
    window (of a mixed series) takes the float path's math.  Name kept.
    Fold is sig-native; labels join back (the smoothed selector's frame
    is the legacy inline-labels contract)."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    ldim = ctx.dim_dedup(df.select("sig", "labels"))
    src = df.select("sig", "t", "value", "hist")
    lb = ctx.lookback_ms
    start, end, step = ctx.start_ms, ctx.end_ms, ctx.step_ms
    ref = ctx.resolve_at(at) - offset if at is not None else None
    off = offset

    def one_series(pdf, rows):
        from bisect import bisect_left

        from prometheus_spark.model.histogram import (
            GAUGE_TYPE,
            UNKNOWN_RESET,
            HistIncompatibleSchema,
            from_row,
            hist_interpolate,
        )

        pdf = pdf.sort_values("t")
        ts = [int(x) for x in pdf["t"]]
        vals = list(pdf["value"])
        hists = [from_row(h) if h is not None else None for h in pdf["hist"]]
        sig = str(pdf["sig"].iloc[0])
        for step_t in range(start, end + 1, step or 1):
            data_ts = ref if ref is not None else step_t - off
            lo_i = bisect_left(ts, data_ts - lb + 1)
            hi_i = bisect_left(ts, data_ts + lb + 1)
            w_h = [(ts[i], hists[i]) for i in range(lo_i, hi_i) if hists[i] is not None]
            w_f = [(ts[i], vals[i]) for i in range(lo_i, hi_i) if hists[i] is None]
            if w_h and w_f:
                continue  # mixed window: warn & skip
            if not w_h:
                # float-only window of a mixed series: the float math of
                # selectors._smoothed_instant (exact sample, else
                # interpolate to a next sample within the lookback, else
                # carry forward; nothing with only a following sample)
                j = bisect_left([t for t, _ in w_f], data_ts + 1)
                if j == 0:
                    continue
                pt, pv = w_f[j - 1]
                if pt != data_ts and j < len(w_f):
                    nt, nv = w_f[j]
                    pv = pv + (nv - pv) * (data_ts - pt) / (nt - pt)
                _append_row(rows, sig, step_t, float(pv), None)
                continue
            i = bisect_left([t for t, _ in w_h], data_ts)
            out_h = None
            if i < len(w_h) and w_h[i][0] == data_ts:
                out_h = w_h[i][1].copy()
            elif 0 < i < len(w_h):
                (pt, ph), (nt, nh) = w_h[i - 1], w_h[i]
                if ph.uses_custom_buckets() != nh.uses_custom_buckets():
                    continue
                is_counter = (
                    ph.counter_reset_hint != GAUGE_TYPE
                    or nh.counter_reset_hint != GAUGE_TYPE
                )
                try:
                    out_h = hist_interpolate(ph, pt, nh, nt, data_ts, is_counter)
                except HistIncompatibleSchema:
                    continue
            elif i > 0:
                out_h = w_h[i - 1][1].copy()
                out_h.counter_reset_hint = UNKNOWN_RESET
            else:
                continue
            out_h.compact()
            _append_row(rows, sig, step_t, None, out_h)
        return

    out = _grouped_apply_batched(src, ("sig",), one_series)
    return _with_labels_back(ctx, assemble(out), ldim)


def window_resets_changes(ctx: EvalContext, windowed: DataFrame, func: str) -> DataFrame:
    """resets/changes over windows containing histogram samples
    (functions.go:2359/2431): float↔histogram transitions always count;
    hist→hist uses DetectReset / !Equals."""
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    if "st" not in windowed.columns:
        windowed = windowed.withColumn("st", F.lit(None).cast("long"))
    src = windowed.select("sig", "t", "sample_t", "value", "hist", "st")
    count_resets = func == "resets"

    def one_group(pdf, rows):
        import math

        from prometheus_spark.model.histogram import from_row, st_reset

        pdf = pdf.sort_values("sample_t")
        samples = []  # (float|None, FloatHist|None, t, st)
        for v, h, t, st in zip(pdf["value"], pdf["hist"], pdf["sample_t"], pdf["st"]):
            # NULL vs NaN is ambiguous in pandas doubles; hist presence
            # decides the sample kind (hist rows carry NULL value)
            fh = from_row(h) if h is not None else None
            stv = None if st is None or st != st else int(st)
            samples.append((None if fh is not None else float(v), fh, int(t), stv))
        if not samples:
            return
        n = 0
        prev_f, prev_h, prev_t, prev_st = samples[0]
        for cur_f, cur_h, cur_t, cur_st in samples[1:]:
            streset = count_resets and st_reset(prev_st, prev_t, cur_st, cur_t)
            if prev_h is None and cur_h is None:
                if count_resets:
                    if cur_f < prev_f or streset:
                        n += 1
                elif cur_f != prev_f and not (math.isnan(cur_f) and math.isnan(prev_f)):
                    n += 1
            elif (prev_h is None) != (cur_h is None):
                n += 1
            else:
                if count_resets:
                    if streset or cur_h.detect_reset(prev_h):
                        n += 1
                elif not cur_h.equals(prev_h):
                    n += 1
            prev_f, prev_h, prev_t, prev_st = cur_f, cur_h, cur_t, cur_st
        _append_row(rows, str(pdf["sig"].iloc[0]), int(pdf["t"].iloc[0]), float(n), None)
        return

    out = _grouped_apply_batched(src, ("sig", "t"), one_group)
    return assemble(out, drop_name=True)


def window_rate_asof(
    ctx: EvalContext,
    base: DataFrame,
    range_ms: int,
    offset_ms: int,
    is_counter: bool,
    is_rate: bool,
) -> DataFrame:
    """rate/increase/delta over PURE-histogram series without the
    range/step window explode.

    :func:`window_rate` receives every sample duplicated once per window
    it falls in and runs ``hist_rate`` per (sig, step) group — at ratio
    40 (``rate(h[20m])`` on a 30s grid) that is 40× the input through a
    shuffle AND 40× the ``from_row`` deserializations.  Here each series
    ships ONCE into an Arrow batch: samples deserialize once, adjacent-
    pair counter resets and schema/custom-bucket arrays are computed
    once, windows come from two ``searchsorted`` probes, and each window
    replays ``hist_rate``'s exact op sequence on index slices — the
    per-window correction loop touches only the resets inside the window
    (``reset_idx`` bisection), so windows without resets cost three
    histogram ops (copy, sub, mul).  Bit-identical to the explode path:
    same ops in the same order per window (pinned by
    tests/test_prefix_range.py::test_hist_rate_asof_parity and the
    native_histograms corpus under PROMSPARK_PREFIX_RANGE_THRESHOLD=0).

    ``base``: un-windowed samples (sig, labels, t, hist[, st]) of series
    whose samples are ALL histograms; mixed float+hist series must stay
    on the explode path (``range_functions.split_kinds`` owns
    per-window float/mixed routing).

    Execution: a ``mapInArrow`` stage (r10).  When the chunk's
    histograms share one bucket layout, start timestamps are absent,
    and a series has no counter resets — the overwhelmingly common
    shape — that series' windows compute as pure numpy: window values
    are one fancy-indexed matrix subtraction (uniform layout ⇒
    ``FloatHist.add`` degenerates to element-wise field math), the
    extrapolation arithmetic vectorizes with the scalar code's exact op
    sequence, and ``Compact(0)`` becomes a flat keep-mask.  Series with
    resets / STs / layout drift replay the exact scalar ``hist_rate``
    sequence per window (``_rate_series_scalar``).
    ``_window_rate_asof_pandas`` is the all-scalar spelling, kept as the
    differential-parity reference.
    """
    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    if "st" not in base.columns:
        base = base.withColumn("st", F.lit(None).cast("long"))
    src = base.select("sig", "t", "hist", "st")
    part = src.repartition(F.col("sig")).sortWithinPartitions("sig", "t")
    fn = _rate_asof_arrow_fn(
        ctx.start_ms, ctx.end_ms, ctx.step_ms,
        range_ms, offset_ms, is_counter, is_rate,
    )
    return assemble(part.mapInArrow(fn, FLAT_SCHEMA), drop_name=True)


def _window_rate_asof_pandas(
    ctx: EvalContext,
    base: DataFrame,
    range_ms: int,
    offset_ms: int,
    is_counter: bool,
    is_rate: bool,
) -> DataFrame:
    """Scalar (pandas grouped-apply) spelling of
    :func:`window_rate_asof` — the differential-parity baseline."""
    import numpy as np

    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(ctx.spark)
    if "st" not in base.columns:
        base = base.withColumn("st", F.lit(None).cast("long"))
    src = base.select("sig", "t", "hist", "st")
    range_s = range_ms / 1000.0
    rng = int(range_ms)
    step_arr = np.arange(
        ctx.start_ms, ctx.end_ms + 1, ctx.step_ms, dtype=np.int64
    )
    wend_arr = step_arr - offset_ms

    def one_series(pdf, rows):
        from prometheus_spark.model.histogram import from_row

        pdf = pdf.sort_values("t")
        ts = pdf["t"].to_numpy(np.int64)
        points = [from_row(h) for h in pdf["hist"]]
        sts = [None if st is None or st != st else int(st) for st in pdf["st"]]
        sig = str(pdf["sig"].iloc[0])
        _rate_series_scalar(
            ts, points, sts, sig, rows,
            step_arr, wend_arr, rng, range_s, is_counter, is_rate,
        )

    out = _grouped_apply_batched(src, ("sig",), one_series)
    return assemble(out, drop_name=True)


def _rate_series_scalar(
    ts, points, sts, sig, rows,
    step_arr, wend_arr, rng, range_s, is_counter, is_rate,
):
    """Exact scalar hist_rate + extrapolation replay for ONE series —
    shared by the pandas path and the Arrow path's fallback tier."""
    import numpy as np

    from prometheus_spark.model.histogram import (
        GAUGE_TYPE,
        FloatHist,
        HistIncompatibleSchema,
        st_reset,
    )

    n_s = len(points)
    reset = np.zeros(n_s, dtype=bool)  # reset[j] = pair (j-1, j)
    if is_counter:
        for j in range(1, n_s):
            pj, pp = points[j], points[j - 1]
            if pj is None or pp is None:
                continue
            reset[j] = st_reset(
                sts[j - 1], int(ts[j - 1]), sts[j], int(ts[j])
            ) or pj.detect_reset(pp)
    reset_idx = np.flatnonzero(reset)
    nones = np.array([p is None for p in points], dtype=bool)
    schemas = np.array(
        [p.schema if p is not None else 127 for p in points], dtype=np.int32
    )
    customs = np.array(
        [bool(p.uses_custom_buckets()) if p is not None else False
         for p in points],
        dtype=bool,
    )
    right = np.searchsorted(ts, wend_arr, side="right")
    left = np.searchsorted(ts, wend_arr - rng, side="right")

    def rate_window(a: int, b: int):
        # hist_rate (model/histogram.py:1094) on the index slice
        prev, last = points[a], points[b]
        if prev is None or last is None:
            return None
        using_custom = prev.uses_custom_buckets()
        if is_counter:
            second = points[a + 1]
            if second is not None and reset[a + 1]:
                prev = FloatHist(
                    schema=second.schema,
                    custom_values=list(second.custom_values),
                )
                using_custom = second.uses_custom_buckets()
        if last.uses_custom_buckets() != using_custom:
            return None
        min_schema = min(last.schema, prev.schema)
        if b - a >= 2:  # middles a+1 .. b-1
            mid = slice(a + 1, b)
            if nones[mid].any():
                return None
            if is_counter:
                if (customs[mid] != using_custom).any():
                    return None
                noncust = ~customs[mid]
                if noncust.any():
                    mmin = int(schemas[mid][noncust].min())
                    if mmin < min_schema:
                        min_schema = mmin
        h = last.copy().reduce_to_schema(min_schema)
        try:
            h.add(prev, sub=True)
            if is_counter:
                # pairs j in [a+2 .. b] with a reset, in time order —
                # identical op order to hist_rate's loop (the window's
                # first pair is a numeric no-op there: on reset, prev
                # was replaced by an empty histogram before the add)
                lo = int(np.searchsorted(reset_idx, a + 2))
                hi = int(np.searchsorted(reset_idx, b, side="right"))
                for j in reset_idx[lo:hi]:
                    h.add(points[int(j) - 1])
        except HistIncompatibleSchema:
            return None
        h.counter_reset_hint = GAUGE_TYPE
        return h.compact()

    for w in range(len(step_arr)):
        a, b = int(left[w]), int(right[w]) - 1
        npts = b - a + 1
        if npts < 1:
            continue
        wend = int(wend_arr[w])
        first_t, last_t = int(ts[a]), int(ts[b])
        st0 = sts[a] or 0
        st_cond = (
            is_counter and st0 != 0 and (wend - rng) < st0 < first_t
        )
        h = rate_window(a, b) if npts >= 2 else None
        if h is None and not (st_cond and npts == 1):
            continue
        # extrapolation — window_rate.one_group, verbatim arithmetic
        sampled = (last_t - first_t) / 1000.0
        avg_spacing = sampled / (npts - 1) if npts > 1 else 0.0
        threshold = avg_spacing * 1.1
        dur_start = (first_t - (wend - rng)) / 1000.0
        dur_end = (wend - last_t) / 1000.0
        if st_cond:
            dur_start = 0.0
            sampled = (last_t - st0) / 1000.0
            if h is None:
                h = points[a].copy()
            else:
                h.add(points[a])
        else:
            if dur_start >= threshold:
                dur_start = avg_spacing / 2.0
            if is_counter and h.count > 0 and points[a].count >= 0:
                dur_zero = sampled * (points[a].count / h.count)
                if dur_zero < dur_start:
                    dur_start = dur_zero
        if dur_end >= threshold:
            dur_end = avg_spacing / 2.0
        factor = (sampled + dur_start + dur_end) / sampled if sampled else 1.0
        if is_rate:
            factor /= range_s
        h.mul(factor)
        h.compact()
        h.counter_reset_hint = GAUGE_TYPE
        _append_row(rows, sig, int(step_arr[w]), None, h)
    return


def _rate_asof_arrow_fn(
    start_ms, end_ms, step_ms, range_ms, offset_ms, is_counter, is_rate
):
    """Build the ``mapInArrow`` batches function for
    :func:`window_rate_asof` (sig-sorted partitions, carry the tail
    series across Arrow batches); plans name it ``rate_asof``."""

    def rate_asof(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = _pa_flat_schema()
        carry = None
        emitted = False
        for batch in it:
            tbl = pa.Table.from_batches([batch], schema=batch.schema)
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl])
                carry = None
            n = tbl.num_rows
            if n == 0:
                continue
            tail_mask = pc.equal(tbl.column("sig"), tbl.column("sig")[n - 1])
            tail_n = pc.sum(pc.cast(tail_mask, pa.int64())).as_py() or 0
            carry = tbl.slice(n - tail_n)
            head = tbl.slice(0, n - tail_n)
            if head.num_rows:
                rb = _rate_fold_chunk(
                    head, out_schema, start_ms, end_ms, step_ms,
                    range_ms, offset_ms, is_counter, is_rate,
                )
                if rb is not None and rb.num_rows:
                    emitted = True
                    yield rb
        if carry is not None and carry.num_rows:
            rb = _rate_fold_chunk(
                carry, out_schema, start_ms, end_ms, step_ms,
                range_ms, offset_ms, is_counter, is_rate,
            )
            if rb is not None and rb.num_rows:
                emitted = True
                yield rb
        if not emitted:
            yield pa.RecordBatch.from_pydict(
                {f.name: [] for f in out_schema}, schema=out_schema
            )

    return rate_asof


def _rate_fold_chunk(
    tbl, out_schema, start_ms, end_ms, step_ms, range_ms, offset_ms,
    is_counter, is_rate, retier: bool = True,
):
    """Rate/increase/delta over one sig-sorted chunk of COMPLETE series."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    range_s = range_ms / 1000.0
    rng = int(range_ms)
    step_arr = np.arange(start_ms, end_ms + 1, step_ms, dtype=np.int64)
    wend_arr = step_arr - offset_ms

    tbl = tbl.combine_chunks()
    b = tbl.to_batches()[0] if tbl.num_rows else None
    if b is None:
        return None
    n = b.num_rows
    idx = tbl.schema.get_field_index
    hist = b.column(idx("hist"))
    st_col = b.column(idx("st"))
    t_np = b.column(idx("t")).to_numpy(zero_copy_only=False)
    sig_codes = pc.dictionary_encode(b.column(idx("sig"))).indices.to_numpy(
        zero_copy_only=False
    )
    new = np.empty(n, dtype=bool)
    new[0] = True
    if n > 1:
        new[1:] = sig_codes[1:] != sig_codes[:-1]
    starts = np.flatnonzero(new)
    lens = np.diff(np.append(starts, n))
    sig_arr = b.column(idx("sig"))

    parsed = None
    if st_col.null_count == n and not hist.null_count:
        ok, parsed = _gs_try_uniform(hist, n)
        if not ok:
            parsed = None

    rows = _fresh()
    hl = None  # lazy pylist for fallback series
    out_cols = None
    sub_batches = []
    scalar_series = []
    if parsed is None:
        scalar_series = list(range(len(starts)))
        # middle tier: when the chunk mixes layouts across SERIES (but
        # histograms are non-null and STs absent), gather each
        # layout-uniform series set into its own batch and re-enter the
        # vectorized fold; only series with intra-series drift stay
        # scalar.  retier guards the recursion like _gs_fold_chunk's.
        if retier and st_col.null_count == n and not hist.null_count:
            keys = _gs_layout_keys(hist, n)
            if keys is not None:
                by_layout: dict = {}
                scalar_series = []
                for gi in range(len(starts)):
                    s0, ln = int(starts[gi]), int(lens[gi])
                    k0 = keys[s0]
                    if all(keys[r] == k0 for r in range(s0 + 1, s0 + ln)):
                        by_layout.setdefault(k0, []).append(gi)
                    else:
                        scalar_series.append(gi)
                tbl2 = pa.Table.from_batches([b])
                for gids in by_layout.values():
                    gidx = np.concatenate(
                        [np.arange(starts[gi], starts[gi] + lens[gi])
                         for gi in gids]
                    )
                    rb = _rate_fold_chunk(
                        tbl2.take(pa.array(gidx)), out_schema, start_ms,
                        end_ms, step_ms, range_ms, offset_ms, is_counter,
                        is_rate, retier=False,
                    )
                    if rb is not None and rb.num_rows:
                        sub_batches.append(rb)
    else:
        out_cols = _rate_fold_uniform(
            parsed, t_np, starts, lens, sig_arr, rows, scalar_series,
            step_arr, wend_arr, rng, range_s, is_counter, is_rate,
        )
    if scalar_series:
        from prometheus_spark.model.histogram import from_row

        hl = hist.to_pylist()
        stl = st_col.to_pylist()
        for gi in scalar_series:
            s0, ln = int(starts[gi]), int(lens[gi])
            points = [from_row(hl[i]) for i in range(s0, s0 + ln)]
            sts = [None if s is None else int(s) for s in stl[s0 : s0 + ln]]
            _rate_series_scalar(
                t_np[s0 : s0 + ln], points, sts,
                _gs_sig_at(sig_arr, s0), rows,
                step_arr, wend_arr, rng, range_s, is_counter, is_rate,
            )
    if out_cols is not None:
        main = _rate_emit(out_cols, rows, out_schema)
    elif rows["t"]:
        main = pa.RecordBatch.from_pydict(rows, schema=out_schema)
    else:
        main = None
    if main is not None and main.num_rows:
        sub_batches.append(main)
    if not sub_batches:
        return None
    if len(sub_batches) == 1:
        return sub_batches[0]
    merged = pa.Table.from_batches(sub_batches).combine_chunks()
    return merged.to_batches()[0]


def _rate_fold_uniform(
    parsed, t_np, starts, lens, sig_arr, rows, scalar_series,
    step_arr, wend_arr, rng, range_s, is_counter, is_rate,
):
    """Vectorized windows for uniform-layout chunks — reset-aware.

    Reset-free windows are pure matrix ops.  Counter resets no longer
    demote the whole series to the scalar replay (round-11; a
    restart-heavy fleet degraded to the slow path exactly when busiest):
    the pair-reset vector splits each series at its reset seams — the
    window base becomes the empty histogram when the window's FIRST
    pair resets (hist_rate replaces prev), and each in-window reset pair
    adds back the pre-reset row, applied in ascending order with the
    same IEEE op sequence as the scalar ``hist_rate`` loop (bit parity).
    Only the per-reset adds loop in Python — windows without resets in
    a reset-bearing series stay fully vectorized.

    Returns columnar output arrays; ``scalar_series`` receives nothing
    here anymore (STs / layout drift / nulls are routed before this
    tier)."""
    import numpy as np

    from prometheus_spark.model.histogram import (
        COUNTER_RESET,
        GAUGE_TYPE,
        NOT_COUNTER_RESET,
    )

    tmpl = parsed["tmpl"]
    zt = tmpl.zero_threshold
    custom = tmpl.uses_custom_buckets()
    pos_idx = tmpl._indexes(tmpl.pos_spans)
    neg_idx = tmpl._indexes(tmpl.neg_spans)
    if custom:
        kept_pos = list(range(len(pos_idx)))
        kept_neg = list(range(len(neg_idx)))
        cmp_pos, cmp_neg = kept_pos, []
        sub_zc = False
    else:
        kept_pos = [j for j, i in enumerate(pos_idx) if tmpl._exp_bounds(i)[1] > zt]
        kept_neg = [j for j, i in enumerate(neg_idx) if tmpl._exp_bounds(i)[1] > zt]
        cmp_pos, cmp_neg = kept_pos, kept_neg
        sub_zc = True
    cnt, sm, zc = parsed["cnt"], parsed["sum"], parsed["zc"]
    pos, neg = parsed["pos"], parsed["neg"]
    hint = parsed["hint"]
    n = len(cnt)

    # adjacent-pair counter resets, whole chunk at once (pairs crossing
    # a series boundary are masked off) — detect_reset for identical
    # layouts: hint shortcuts, then count/zero-count decrease, then any
    # populated previous bucket shrinking (custom: count + pos only)
    reset = np.zeros(n, dtype=bool)
    if is_counter and n > 1:
        cur, prv = slice(1, None), slice(None, -1)
        dec = cnt[cur] < cnt[prv]
        if sub_zc:
            dec = dec | (zc[cur] < zc[prv])
        for mat, cols in ((pos, cmp_pos), (neg, cmp_neg)):
            if cols:
                m = mat[:, cols]
                dec = dec | ((m[prv] != 0) & (m[cur] < m[prv])).any(axis=1)
        hc = hint[1:]
        pair = np.where(
            hc == COUNTER_RESET, True,
            np.where(hc == NOT_COUNTER_RESET, False, dec),
        )
        reset[1:] = pair
        reset[starts] = False  # pairs never cross series boundaries

    M = np.column_stack(
        [cnt, sm, zc]
        + ([pos] if pos.shape[1] else [])
        + ([neg] if neg.shape[1] else [])
    )
    p_all, q_all = pos.shape[1], neg.shape[1]
    sub_mask = np.zeros(M.shape[1], dtype=bool)
    sub_mask[0] = sub_mask[1] = True
    sub_mask[2] = sub_zc
    for j in kept_pos:
        sub_mask[3 + j] = True
    for j in kept_neg:
        sub_mask[3 + p_all + j] = True

    out_rows = []
    out_t = []
    out_series = []  # gi per output row (labels lookup)
    for gi in range(len(starts)):
        s0, ln = int(starts[gi]), int(lens[gi])
        has_reset = bool(is_counter and reset[s0 + 1 : s0 + ln].any())
        ts = t_np[s0 : s0 + ln]
        right = np.searchsorted(ts, wend_arr, side="right")
        left = np.searchsorted(ts, wend_arr - rng, side="right")
        npts = right - left
        valid = npts >= 2
        if not valid.any():
            continue
        a = s0 + left[valid]
        bidx = s0 + right[valid] - 1
        nw = npts[valid].astype(np.float64)
        R = M[bidx].copy()
        if has_reset:
            # absolute positions j of reset pairs (j-1, j) in this series
            r_idx = s0 + 1 + np.flatnonzero(reset[s0 + 1 : s0 + ln])
            # window's first pair resets ⇒ hist_rate replaces prev with
            # an EMPTY histogram: no base subtraction for those windows
            base = M[a].copy()
            base[reset[a + 1]] = 0.0
            R[:, sub_mask] -= base[:, sub_mask]
            # in-window resets at pairs j ∈ [a+2, b] add back the
            # pre-reset row, ascending — the scalar loop's exact order
            lo = np.searchsorted(r_idx, a + 2)
            hi = np.searchsorted(r_idx, bidx, side="right")
            for w in np.flatnonzero(hi > lo):
                for j in r_idx[lo[w] : hi[w]]:
                    R[w] += M[int(j) - 1]
        else:
            R[:, sub_mask] -= M[a][:, sub_mask]
        first_t = t_np[a].astype(np.float64)
        last_t = t_np[bidx].astype(np.float64)
        wend = wend_arr[valid].astype(np.float64)
        # extrapolation — _rate_series_scalar's arithmetic, same op order
        sampled = (last_t - first_t) / 1000.0
        avg_spacing = sampled / (nw - 1.0)
        threshold = avg_spacing * 1.1
        dur_start = (first_t - (wend - rng)) / 1000.0
        dur_end = (wend - last_t) / 1000.0
        dur_start = np.where(dur_start >= threshold, avg_spacing / 2.0, dur_start)
        if is_counter:
            hcnt = R[:, 0]
            acnt = M[a, 0]
            with np.errstate(divide="ignore", invalid="ignore"):
                dur_zero = sampled * (acnt / hcnt)
            m = (hcnt > 0) & (acnt >= 0) & (dur_zero < dur_start)
            dur_start = np.where(m, dur_zero, dur_start)
        dur_end = np.where(dur_end >= threshold, avg_spacing / 2.0, dur_end)
        with np.errstate(divide="ignore", invalid="ignore"):
            factor = np.where(
                sampled != 0.0, (sampled + dur_start + dur_end) / sampled, 1.0
            )
        if is_rate:
            factor = factor / range_s
        R *= factor[:, None]
        out_rows.append(R)
        out_t.append(step_arr[valid])
        out_series.append(np.full(int(valid.sum()), gi, dtype=np.int64))
    if out_rows:
        R_out = np.concatenate(out_rows)
        t_out = np.concatenate(out_t)
        s_out = np.concatenate(out_series)
    else:
        R_out = np.empty((0, M.shape[1]))
        t_out = np.empty(0, np.int64)
        s_out = np.empty(0, np.int64)
    return {
        "R": R_out, "t": t_out, "series": s_out, "tmpl": tmpl,
        "pos_keys": list(pos_idx), "neg_keys": list(neg_idx),
        "p": p_all, "q": q_all, "starts": starts, "sig_arr": sig_arr,
    }


def _rate_emit(out_cols, rows, out_schema):
    """Build the output RecordBatch: columnar for the vectorized
    windows (Compact(0) = flat keep-mask; spans rebuilt per distinct
    zero pattern), plus the scalar-fallback rows accumulated in
    ``rows``."""
    import numpy as np
    import pyarrow as pa

    from prometheus_spark.model.histogram import GAUGE_TYPE, _map_to_spans

    R = out_cols["R"]
    k = R.shape[0]
    batches = []
    if k:
        tmpl = out_cols["tmpl"]
        p, q = out_cols["p"], out_cols["q"]
        pos_keys, neg_keys = out_cols["pos_keys"], out_cols["neg_keys"]
        pos_vals = R[:, 3 : 3 + p]
        neg_vals = R[:, 3 + p : 3 + p + q]

        span_cache = {}

        def spans_for(keys, keep_row):
            key = keep_row.tobytes()
            hit = span_cache.get(key)
            if hit is None:
                m = {kk: 1.0 for kk, keep in zip(keys, keep_row) if keep}
                sp, _ = _map_to_spans(m)
                hit = ([int(o) for o, _ in sp], [int(l) for _, l in sp])
                span_cache[key] = hit
            return hit

        def list_col(vals, keys):
            w = vals.shape[1]
            if w == 0:
                offs = np.zeros(k + 1, dtype=np.int32)
                return (
                    pa.ListArray.from_arrays(
                        pa.array(offs), pa.array([], type=pa.float64())
                    ),
                    [[]] * k,
                    [[]] * k,
                )
            keep = vals != 0.0
            lens_ = keep.sum(axis=1).astype(np.int32)
            offs = np.zeros(k + 1, dtype=np.int32)
            np.cumsum(lens_, out=offs[1:])
            flat = vals[keep]
            full = lens_ == w
            full_spans = spans_for(keys, np.ones(w, dtype=bool))
            offs_l, lens_l = [], []
            for i in range(k):
                if full[i]:
                    o, ln = full_spans
                else:
                    o, ln = spans_for(keys, keep[i])
                offs_l.append(o)
                lens_l.append(ln)
            return (
                pa.ListArray.from_arrays(pa.array(offs), pa.array(flat)),
                offs_l,
                lens_l,
            )

        pos_col, pos_offs, pos_lens = list_col(pos_vals, pos_keys)
        neg_col, neg_offs, neg_lens = list_col(neg_vals, neg_keys)
        # sig: constant per series
        sig_cache = {}
        sigs_l = []
        for gi in out_cols["series"]:
            gi = int(gi)
            hit = sig_cache.get(gi)
            if hit is None:
                hit = _gs_sig_at(
                    out_cols["sig_arr"], int(out_cols["starts"][gi])
                )
                sig_cache[gi] = hit
            sigs_l.append(hit)
        cv = [float(v) for v in tmpl.custom_values]
        data = {
            "sig": pa.array(sigs_l, type=pa.string()),
            "t": pa.array(out_cols["t"], type=pa.int64()),
            "value": pa.array([None] * k, type=pa.float64()),
            "has_hist": pa.array(np.ones(k, dtype=bool)),
            "h_schema": pa.array(
                np.full(k, tmpl.schema, dtype=np.int32), type=pa.int32()
            ),
            "h_zt": pa.array(np.full(k, tmpl.zero_threshold)),
            "h_zc": pa.array(R[:, 2]),
            "h_count": pa.array(R[:, 0]),
            "h_sum": pa.array(R[:, 1]),
            "h_pos_off": pa.array(pos_offs, type=pa.list_(pa.int32())),
            "h_pos_len": pa.array(pos_lens, type=pa.list_(pa.int32())),
            "h_pos_bkt": pos_col,
            "h_neg_off": pa.array(neg_offs, type=pa.list_(pa.int32())),
            "h_neg_len": pa.array(neg_lens, type=pa.list_(pa.int32())),
            "h_neg_bkt": neg_col,
            "h_custom": pa.array([cv] * k, type=pa.list_(pa.float64())),
            "h_hint": pa.array(
                np.full(k, GAUGE_TYPE, dtype=np.int32), type=pa.int32()
            ),
        }
        batches.append(pa.RecordBatch.from_pydict(data, schema=out_schema))
    if rows["t"]:
        batches.append(pa.RecordBatch.from_pydict(rows, schema=out_schema))
    if not batches:
        return None
    if len(batches) == 1:
        return batches[0]
    tb = pa.Table.from_batches(batches).combine_chunks()
    return tb.to_batches()[0]

