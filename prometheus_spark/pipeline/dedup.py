"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (shingling via
``transform(sequence(...))``, minhash via per-permutation ``min(xxhash64)``
aggregates) — no Python UDFs.  At 100 TB the only shuffles are the
groupBy(doc) signature build and the band-bucket join, both keyed small.
"""

from __future__ import annotations

import threading
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Unpersist contract for operator intermediates: candidate generators
# persist a mid-pipeline frame (the band-bucket index, the annotated
# gram index) that the RETURNED DataFrame still references lazily, so
# the operator itself can never unpersist it.  Every such persist goes
# through _track_persist; callers that have fully consumed the results
# (bench harnesses, batch jobs between pipeline stages) call
# release_intermediates() to drop the pinned blocks deterministically.
# Callers that don't are still safe: Spark's ContextCleaner unpersists
# each frame once its (Python → py4j → JVM) references are garbage —
# just later, and only after a driver GC.
# localCheckpoint() frames (connected_components rounds) are NOT
# tracked: a checkpoint's blocks are its ONLY copy (lineage truncated),
# so unpersisting one under a live result would fail the job — those
# remain ContextCleaner-managed by design.
_PERSISTED: list = []
_PERSISTED_LOCK = threading.Lock()


def _track_persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _PERSISTED_LOCK:
        _PERSISTED.append(df)
    return df


def release_intermediates() -> int:
    """Unpersist every tracked operator intermediate; → handle count.

    Safe to call any time results built from them have been consumed
    (collected/written): persisted frames keep full lineage, so a
    late re-execution merely recomputes.
    """
    with _PERSISTED_LOCK:
        handles = list(_PERSISTED)
        del _PERSISTED[:]
    for df in handles:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    return len(handles)


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Small single-file inputs arrive as one scan partition, serializing
    the expensive shingle/hash explode stage.  Repartition up to the
    cluster's parallelism when the scan has fewer input files — a no-op
    at real corpus scale where the input already has thousands of splits.

    File count from the catalog (``inputFiles``) instead of
    ``df.rdd.getNumPartitions()``: the RDD conversion forces a full
    plan-to-RDD translation per call for a number we only need
    approximately."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_inputs = len(df.inputFiles())
    except Exception:  # non-file-backed plans (createDataFrame, unions)
        n_inputs = 0
    if 0 < n_inputs < target:
        return df.repartition(target, id_col)
    return df


def _word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (lowercased, whitespace-tokenized).

    Built by folding ``zip_with`` over shifted slices — elementwise array
    ops that stay O(words) per document, ~17x faster than the naive
    per-position ``slice``+``array_join`` (which is O(words²))."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    count = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    grams = F.slice(words, 1, count)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(words, k + 1, count), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(grams)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal: md5-hash groupBy keeping the smallest id.

    One shuffle on the content hash; at scale the hash is computed at scan
    time so the shuffle carries (hash, id) pairs only.
    """
    h = F.md5(F.col(text_col))
    keep = (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    # the survivors-by-id semi-join keeps the wide text column out of the
    # content-hash shuffle: only (hash, id) pairs travel there.  The
    # dropDuplicates guards inputs with repeated ids and is co-partitioned
    # with the join — no extra exchange.
    return df.join(keep, id_col, "left_semi").dropDuplicates([id_col])


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: h_i = min over shingles of the
    i-th permutation hash.  The shingle *string* is hashed exactly once
    (``xxhash64(sh)``); the ``num_perm`` permutations re-hash that fixed
    8-byte long, so per-shingle cost is 1 string hash + num_perm long
    hashes instead of num_perm string hashes — the dominant cost at
    corpus scale.

    The whole signature is computed **per row** with array expressions
    (``array_min`` over a ``transform``) — no explode, no groupBy, ZERO
    shuffle: at 100 TB the signature build is a pure map stage pipelined
    into the scan.  Documents with no shingles produce no signature
    (matching the previous explode/groupBy semantics)."""
    sigs = _minhash_sig_array(df, text_col, id_col, num_perm, shingle_n)
    return sigs.select(
        F.col(id_col),
        *[F.col("__sig")[i].alias(f"h{i}") for i in range(num_perm)],
    )


# Spark's Murmur-free 64-bit hash (catalyst XXH64.java) re-derived for
# numpy so the permutation stage can run in an Arrow batch WITHOUT
# whole-stage codegen: the 64-perm JVM expression is hash-identical but
# pays a multi-second one-time Janino JIT per distinct plan — the
# dominant cold-query cost.  Verified bit-for-bit against xxhash64() in
# tests/test_pipeline.py.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_int_seeds(num_perm: int):
    """hashInt(i, 42) for i in [0, num_perm) — the running seeds Spark's
    ``xxhash64(i, h)`` feeds into hashLong (XXH64.java hashInt)."""
    import numpy as np

    u = np.uint64
    i = np.arange(num_perm, dtype=np.uint64)
    h = u(42) + u(_XXH_P5) + u(4)
    h = h ^ (i * u(_XXH_P1))
    h = ((h << u(23)) | (h >> u(41))) * u(_XXH_P2) + u(_XXH_P3)
    h ^= h >> u(33)
    h *= u(_XXH_P2)
    h ^= h >> u(29)
    h *= u(_XXH_P3)
    h ^= h >> u(32)
    return h  # shape (num_perm,)


def _xxh64_long_matrix(vals, seeds):
    """hashLong(v, seed) for every (v, seed) pair (XXH64.java hashLong):
    vals (N,) uint64 × seeds (P,) uint64 → (N, P) uint64, vectorized."""
    import numpy as np

    u = np.uint64
    k1 = ((vals * u(_XXH_P2)) << u(31)) | ((vals * u(_XXH_P2)) >> u(33))
    k1 = k1 * u(_XXH_P1)  # (N,)
    h = (seeds[None, :] + u(_XXH_P5) + u(8)) ^ k1[:, None]  # (N, P)
    h = (((h << u(27)) | (h >> u(37))) * u(_XXH_P1)) + u(_XXH_P4)
    h ^= h >> u(33)
    h *= u(_XXH_P2)
    h ^= h >> u(29)
    h *= u(_XXH_P3)
    h ^= h >> u(32)
    return h


def _minhash_sig_array(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_n: int,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, __sig: array<long>) — the array-native signature.

    Shingling and the per-shingle base hash stay JVM-side (string ops,
    cheap codegen); the ``num_perm`` permutation min-fold runs as a
    numpy ``mapInArrow`` stage producing IDENTICAL hashes with no
    Janino compile (``use_arrow=False`` keeps the pure-expression path,
    used by tests to assert bit-equality).  Still a pure map stage —
    zero shuffle at any scale."""
    grams = _word_ngrams(F.col(text_col), shingle_n)
    df = _spread(df, id_col)
    # materialize the base hash array in a child projection so the
    # permutation stage reuses it instead of re-hashing strings
    hashed = df.select(
        F.col(id_col),
        F.transform(grams, lambda g: F.xxhash64(g)).alias("__h0"),
    ).filter(F.size("__h0") > 0)
    if not use_arrow:
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda i: F.array_min(F.transform("__h0", lambda h: F.xxhash64(i, h))),
        )
        return hashed.select(F.col(id_col), sig.alias("__sig"))

    id_type = hashed.schema[id_col].dataType.simpleString()

    def permute(batches):
        import numpy as np
        import pyarrow as pa

        seeds = _xxh64_int_seeds(num_perm)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            h0 = batch.column(1)
            if isinstance(h0, pa.ChunkedArray):  # pragma: no cover
                h0 = h0.combine_chunks()
            offsets = h0.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = h0.values.to_numpy(zero_copy_only=False).astype(np.int64)
            # A sliced ListArray's child buffer can extend past
            # offsets[-1]; reduceat's last segment runs to the buffer
            # end, so truncate to the logical range (rebasing starts)
            # or the final document's min absorbs foreign hashes.
            vals_u = vals[offsets[0] : offsets[-1]].view(np.uint64)
            mat = _xxh64_long_matrix(vals_u, seeds)  # (N, P)
            # per-document min over the doc's shingle slice; every list
            # is non-empty (filtered upstream)
            mins = np.minimum.reduceat(
                mat.view(np.int64), offsets[:-1] - offsets[0], axis=0
            )  # signed view: Spark's hash is a signed long min
            flat = pa.array(mins.reshape(-1), type=pa.int64())
            sig_offsets = pa.array(
                np.arange(len(mins) + 1, dtype=np.int32) * num_perm
            )
            sig = pa.ListArray.from_arrays(sig_offsets, flat)
            yield pa.RecordBatch.from_arrays([ids, sig], [id_col, "__sig"])

    return hashed.mapInArrow(permute, f"{id_col} {id_type}, __sig array<bigint>")


#: band buckets larger than this emit STAR edges (bucket-min → member,
#: k-1 rows) instead of the k² all-pairs clique.  For downstream
#: connected-components clustering the star spans the same components;
#: it only drops redundant intra-clique edges.  Without the cap, a
#: corpus where documents have large duplicate clusters (every member
#: shares every band bucket) makes pair output QUADRATIC in cluster
#: size — measured: the 100x-replicated sf10 bench corpus took the
#: all-pairs plan from ~1s (sf1) to 154s; the star cap returns it to
#: linear.  Buckets at or under the cap keep exact all-pairs semantics.
#: The cap is OPT-IN (public APIs default to ``star_threshold=None`` =
#: exact all-pairs): a consumer that post-verifies candidate pairs
#: pairwise would silently miss member↔member pairs under the cap, so
#: scale call sites (bench, the driver entries, clustering pipelines
#: that only need spanning edges) pass ``STAR_THRESHOLD`` explicitly.
STAR_THRESHOLD = 64


def _bucketed_pairs(
    banded: DataFrame, id_col: str, star_threshold: Optional[int]
) -> DataFrame:
    """(id, band, bucket) frame → distinct (doc_a, doc_b) candidates:
    all-pairs inside small buckets, star edges inside oversized ones.

    Plan shape (the ordering matters — measured 2× at bench scale):
    bucket stats come from a partial-aggregating ``groupBy`` (skew-proof:
    a mega-bucket's count/min combine map-side), the 1:N annotate join
    streams under sort-merge (the stats side has one row per bucket, so
    no per-task buffering even for a duplicate mega-cluster), and the
    exchange on ``hash(band, bucket)`` is REUSED between the groupBy and
    the join — the signature pipeline executes once.  The persist lands
    AFTER the annotate join so the small/star split and the self-join all
    read the one cached frame; persisting *before* the join (the previous
    shape) broke exchange reuse because an InMemoryRelation carries no
    output partitioning, forcing both join sides to re-shuffle."""
    if star_threshold is None:
        banded = _track_persist(banded)
        small = banded
        star = None
        a = banded.alias("a")
        b = banded.alias("b")
    else:
        stats = banded.groupBy("band", "bucket").agg(
            F.count("*").alias("__n"), F.min(id_col).alias("__rep")
        )
        joined = _track_persist(banded.join(stats, ["band", "bucket"]))
        small = joined.filter(F.col("__n") <= star_threshold).select(
            id_col, "band", "bucket"
        )
        star = (
            joined.filter(
                (F.col("__n") > star_threshold)
                & (F.col(id_col) != F.col("__rep"))
            )
            .select(
                F.col("__rep").alias("doc_a"), F.col(id_col).alias("doc_b")
            )
        )
        a = small.alias("a")
        b = small.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def minhash_dup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    star_threshold: Optional[int] = None,
) -> DataFrame:
    """LSH banding: documents sharing any band bucket are candidate
    near-duplicates.  Returns (doc_a, doc_b) pairs with doc_a < doc_b.

    By default (``star_threshold=None``) the pair set is exact: every
    co-bucketed pair appears.  Passing ``star_threshold=n`` (e.g. the
    module's ``STAR_THRESHOLD``) caps buckets larger than n to rep→member
    star edges — same connected components, fewer edges — which pairwise
    post-verifiers must NOT rely on; opt in only when downstream is a
    clustering pass.

    Scale path: band hashes explode to ``bands`` rows per doc; the
    self-join happens inside each (band, bucket) — skewed buckets are
    rare with 64-bit hashes and AQE splits them; mega-buckets (whole
    duplicate clusters hashing identically) are the quadratic hazard the
    star cap addresses.
    """
    rows_per_band = num_perm // bands
    sigs = _minhash_sig_array(df, text_col, id_col, num_perm, shingle_n)
    # band bucket = hash of the band's signature slice (array-native —
    # the h0..h63 column projection never materializes on this path;
    # GetArrayItem reads are cheap codegen)
    band_hashes = F.array(
        *[
            F.xxhash64(
                *[
                    F.col("__sig")[b * rows_per_band + r]
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )
    # the (id, band, bucket) frame is persisted inside _bucketed_pairs so
    # the full shingle→signature pipeline executes once, not per side
    return _bucketed_pairs(banded, id_col, star_threshold)


# --- oracle-portable (md5-based) variants ------------------------------
#
# The production minhash/simhash paths hash with Spark's xxhash64, which
# no other SQL engine implements — so the driver's DuckDB oracle could
# only row-count them.  These variants swap the base hash for
# md5-prefix arithmetic that is bit-identical portable SQL in BOTH
# engines (the `doc_fingerprint` / `stratified_sample` trick), making
# every value hash-verifiable end-to-end.  Same plan shapes (zero-shuffle
# signature build, banded bucket self-join); only the hash function and
# the (smaller) permutation count differ.

#: modulus for the portable permutation family — 2^31-1 (Mersenne prime).
#: With base hashes < p and multipliers < p, a*b + c < 2^62: no signed-64
#: overflow in either engine.
PORTABLE_P = 2147483647


def portable_perm_constants(num_perm: int, p: int = PORTABLE_P) -> list[tuple[int, int]]:
    """Deterministic (a_i, c_i) multiplier/offset pairs for the portable
    universal-hash permutations h_i(x) = (a_i·x + c_i) mod p.  Pure
    integer arithmetic so ``oracle_sql()`` can regenerate the identical
    constants when rendering the DuckDB side."""
    return [
        ((2654435761 * (i + 1)) % p or 1, (40503 * i + 1) % p)
        for i in range(num_perm)
    ]


def _portable_base_hash(col: Column, p: int = PORTABLE_P) -> Column:
    """First 8 hex chars of md5 → unsigned 32-bit int, reduced mod p.
    DuckDB spelling: ``('0x' || substr(md5(x),1,8))::BIGINT % p``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(p)


def minhash_dup_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    star_threshold: Optional[int] = None,
) -> DataFrame:
    """LSH banding with the oracle-portable md5 permutation family.
    ``star_threshold`` is opt-in exactly as in
    :func:`minhash_dup_candidates` (None = exact all-pairs).

    Signature build: explode the distinct shingles and take the
    ``num_perm`` permutation minima as conditional MIN aggregates in ONE
    map-side-combining whole-stage-codegen'd HashAggregate (the same
    reshape as :func:`simhash_64_portable`'s vote fold).  The per-row
    spelling — ``array_min`` over ``transform`` lambdas,
    :func:`_portable_signatures_hof`, kept as the parity reference — ran
    the md5 base hash AND all ``num_perm`` permutations as interpreted
    higher-order functions, measured 8.5× slower at the sf1 rung (5.39 →
    0.63 s isolated); post-explode every expression is codegen'd.  Costs
    one shuffle of ``num_perm`` longs per doc (map-side combined —
    proportionally small next to scanning the document text).  Note the
    agg path emits one signature per distinct id (inputs with duplicate
    ids merge); candidate PAIRS are unchanged either way because
    `_bucketed_pairs` ends in ``distinct()``.

    Band bucket is ``md5(concat_ws(',', mins...))`` — portable, and
    collision-free in practice (128-bit)."""
    sigs = _portable_signatures_agg(df, text_col, id_col, num_perm, shingle_n)
    return _portable_band_pairs(sigs, id_col, num_perm, bands, star_threshold)


def _portable_signatures_agg(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, shingle_n: int
) -> DataFrame:
    """(id, m0..m{num_perm-1}): the portable minima as one codegen'd
    explode + MIN aggregate."""
    p = PORTABLE_P
    # a_i, c_i < p = 2^31-1 and base < p, so a·b + c < 2^62: the
    # permutation arithmetic stays in signed-64 range inside codegen
    # exactly as it does in the DuckDB oracle rendering
    exploded = _spread(df, id_col).select(
        F.col(id_col),
        F.explode(_word_ngrams(F.col(text_col), shingle_n)).alias("__g"),
    )
    based = exploded.select(
        F.col(id_col), _portable_base_hash(F.col("__g"), p).alias("__b")
    )
    return based.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__b") + F.lit(c)) % F.lit(p)).alias(f"m{i}")
            for i, (a, c) in enumerate(portable_perm_constants(num_perm, p))
        ]
    )


def _portable_signatures_hof(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, shingle_n: int
) -> DataFrame:
    """The zero-shuffle per-row spelling of
    :func:`_portable_signatures_agg` (higher-order ``array_min`` folds) —
    the differential-parity reference."""
    p = PORTABLE_P
    # project the base-hash array ONCE before fanning out into the
    # num_perm array_min expressions — without the intermediate
    # projection each min would re-derive the md5 of every shingle
    base = F.transform(
        _word_ngrams(F.col(text_col), shingle_n),
        lambda g: _portable_base_hash(g, p),
    )
    hashed = _spread(df, id_col).select(
        F.col(id_col), base.alias("__base")
    ).filter(F.size("__base") > 0)
    mins = [
        F.array_min(
            F.transform(
                F.col("__base"), lambda b: (F.lit(a) * b + F.lit(c)) % F.lit(p)
            )
        )
        for a, c in portable_perm_constants(num_perm, p)
    ]
    return hashed.select(
        F.col(id_col), *[m.alias(f"m{i}") for i, m in enumerate(mins)]
    )


def _portable_band_pairs(
    sigs: DataFrame,
    id_col: str,
    num_perm: int,
    bands: int,
    star_threshold: Optional[int],
) -> DataFrame:
    """Candidate pairs of portable signatures ``(id, m0..)`` sharing a
    band bucket."""
    rows_per_band = num_perm // bands
    buckets = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.posexplode(buckets).alias("band", "bucket"))
    return _bucketed_pairs(banded, id_col, star_threshold)


def _simhash_fold_arrow(
    hashed: DataFrame, id_col: str, hex_input: bool = False
) -> DataFrame:
    """(id, __h array<long>) → (id, __fp long): the 64-bit majority-vote
    fold as a vectorized numpy ``mapInArrow`` stage.

    ``hex_input=True`` takes ``__h array<binary>`` of 8-byte token
    digests (``unhex`` of the md5's first 16 hex chars — whole-stage
    codegen) and views them as big-endian uint64 HERE, vectorized (one
    numpy buffer view, no per-row Python).  Motivation: the JVM-side
    signed-64 pack ``conv(substring(md5, 1, 16), 16, -10)`` measured
    ~11 s of simhash's 14.9 s at sf10 — conv is an interpreted
    per-element string walk.  Identical bits: the big-endian bytes as
    uint64 are the same 64-bit pattern conv's signed interpretation
    yields.

    The SQL spelling (``aggregate`` + ``zip_with`` over a 64-slot vote
    array) runs INTERPRETED — higher-order lambdas are outside
    whole-stage codegen — costing ~64 expression evals per token; that
    made simhash the one byte-bound outlier in the sf10 ladder (10.2 s).
    Here bit j's vote count is one ``(h >> j) & 1`` vector op plus a
    ``np.add.reduceat`` over the doc slices: 64 passes over the flat
    token-hash array, ~1 cycle/token each.  Still a pure map stage —
    zero shuffle, identical bits (bit j set iff 2·ones_j > n_tokens,
    i.e. the ±1 vote sum is positive; ties stay 0 in both spellings).
    """
    id_type = hashed.schema[id_col].dataType.simpleString()

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        def parse_hex(sa):
            # pa.BinaryArray of 8-byte big-endian token digests → uint64,
            # without touching Python objects: slice the data buffer and
            # view 8-byte groups big-endian.
            n = len(sa)
            if n == 0:
                return np.empty(0, dtype=np.uint64)
            bufs = sa.buffers()
            off = np.frombuffer(bufs[1], dtype=np.int32)[
                sa.offset : sa.offset + n + 1
            ].astype(np.int64)
            if bufs[0] is None and (np.diff(off) == 8).all():
                byts = np.frombuffer(bufs[2], dtype=np.uint8)[off[0] : off[-1]]
                return byts.reshape(-1, 8).view(">u8").ravel().astype(np.uint64)
            # nulls or unexpected widths — cannot happen for md5 output,
            # kept as a correctness net
            return np.array(
                [
                    int.from_bytes(x, "big") if x is not None else 0
                    for x in sa.to_pylist()
                ],
                dtype=np.uint64,
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            h = batch.column(1)
            if isinstance(h, pa.ChunkedArray):  # pragma: no cover
                h = h.combine_chunks()
            offsets = h.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            if hex_input:
                flat = parse_hex(h.values)
            else:
                flat = (
                    h.values.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                    .view(np.uint64)
                )
            # Same sliced-ListArray guard as the minhash fold: truncate
            # the flat buffer to [offsets[0], offsets[-1]) and rebase
            # starts, so reduceat's final segment stops at the last
            # document instead of absorbing trailing child values.
            flat = flat[offsets[0] : offsets[-1]]
            n_tok = np.diff(offsets).astype(np.uint64)
            starts = offsets[:-1] - offsets[0]
            fp = np.zeros(len(n_tok), dtype=np.uint64)
            for j in range(64):
                ones = np.add.reduceat((flat >> np.uint64(j)) & np.uint64(1), starts)
                fp |= ((2 * ones > n_tok)).astype(np.uint64) << np.uint64(j)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fp.view(np.int64), type=pa.int64())],
                [id_col, "__fp"],
            )

    return hashed.mapInArrow(fold, f"{id_col} {id_type}, __fp bigint")


def simhash_64_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """SimHash-64 with md5-derived token bits, emitted as a 16-hex-char
    string so the value is identical portable SQL in Spark and DuckDB
    (no signed-shift edge cases at bit 63).

    Token hash = the first 16 hex chars of md5 packed into ONE signed
    64-bit value (``(hi>=2^31 ? hi-2^32 : hi)·2^32 + lo`` — every
    intermediate stays in signed-64 range, so the identical expression
    runs in DuckDB's ANSI arithmetic).  Packing to a single long keeps
    the 64-slot vote fold the same cheap shape as :func:`simhash_64`'s
    (one shiftright per bit; the earlier hi/lo-struct variant paid 2.5×
    in the fold).  Arithmetic ``>>`` sign-extends identically in both
    engines, and ``(h>>j)&1`` reads bit j regardless.  Same zero-shuffle
    per-row fold as :func:`simhash_64`.

    Three vote-fold spellings, tested bit-identical:

    - :func:`_portable_simhash_agg` (``use_arrow=True``) — explode words
      into 64 conditional SUMs in one map-side-combining
      whole-stage-codegen'd HashAggregate (2.0x over the Arrow fold at
      sf10; see the inline comment)
    - :func:`_portable_simhash_arrow` — the vectorized
      :func:`_simhash_fold_arrow` map stage (zero shuffle; the 100 TB
      fallback if shuffle bytes ever matter)
    - :func:`_portable_simhash_sql` (``use_arrow=False``) — the pure-SQL
      aggregate/zip_with fold; the DuckDB oracle renders that exact
      SQL."""
    spell = _portable_simhash_agg if use_arrow else _portable_simhash_sql
    return spell(df, text_col, id_col)


def _portable_words(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != F.lit("")
    )


def _portable_simhash_agg(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # Whole-stage-codegen'd vote fold: explode words and take the 64
    # per-bit ±1 vote sums as 64 conditional SUMs in ONE map-side-
    # combining HashAggregate (same shape as the dense classic-le
    # pivot).  No Python boundary at all, and conv() here runs inside
    # codegen (per exploded row), not as an interpreted lambda per
    # array element — measured 2.0x over the Arrow fold at sf10 (7.0 ->
    # 3.5 s isolated, byte-identical).  Costs one shuffle of 64 longs
    # per document (~0.5 kB, map-side combined) where the folds are
    # shuffle-free — proportionally small next to scanning the multi-kB
    # document text itself.
    hi32 = "CAST(conv(substring(md5(__w), 1, 8), 16, 10) AS BIGINT)"
    lo32 = "CAST(conv(substring(md5(__w), 9, 8), 16, 10) AS BIGINT)"
    exploded = (
        _spread(df, id_col)
        .select(F.col(id_col), F.explode(_portable_words(text_col)).alias("__w"))
        .selectExpr(id_col, f"{hi32} AS __hi", f"{lo32} AS __lo")
    )
    agg = exploded.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(IF(((__lo >> {j}) & 1) = 1, 1, -1))"
                if j < 32
                else f"sum(IF(((__hi >> {j - 32}) & 1) = 1, 1, -1))"
            ).alias(f"__v{j}")
            for j in range(64)
        ]
    )
    # bit j set iff the vote sum is positive (ties stay 0), matching
    # both fold spellings; hex(hi)||hex(lo) == the oracle rendering
    fp_lo = " + ".join(
        f"IF(__v{j} > 0, CAST(1 AS BIGINT) << {j}, 0L)" for j in range(32)
    )
    fp_hi = " + ".join(
        f"IF(__v{j} > 0, CAST(1 AS BIGINT) << {j - 32}, 0L)"
        for j in range(32, 64)
    )
    return agg.selectExpr(
        id_col,
        f"lower(lpad(hex({fp_hi}), 8, '0') || lpad(hex({fp_lo}), 8, '0'))"
        " AS simhash",
    )


def _portable_simhash_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # the Arrow fold parses the 16-hex-char digests itself (see
    # _simhash_fold_arrow hex_input): shipping strings and parsing
    # vectorized beats the JVM conv() pack ~3x end-to-end at sf10
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col),
            F.transform(
                _portable_words(text_col),
                lambda w: F.unhex(F.substring(F.md5(w), 1, 16)),
            ).alias("__h"),
        )
        .filter(F.size("__h") > 0)
    )
    # hex of the signed-64 fingerprint == hex(hi) || hex(lo) of the
    # SQL path's 32-bit halves (unsigned concatenation)
    return _simhash_fold_arrow(hashed, id_col, hex_input=True).select(
        F.col(id_col),
        F.lower(F.lpad(F.hex(F.col("__fp")), 16, "0")).alias("simhash"),
    )


def _portable_simhash_sql(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # md5 once per word; pack the first 16 hex chars into one long.
    # conv(…, 16, -10) interprets the 64-bit result as SIGNED — one conv
    # per token where the hi/lo spelling paid two convs plus a `when`
    # that re-evaluated `hi` three times (lambdas get no CSE): measured
    # 15.8 s → ~7 s for the pack stage at sf10.  Value-identical to the
    # hi/lo arithmetic (asserted in tests); the DuckDB oracle keeps the
    # portable hi/lo spelling — only VALUES must match across engines.
    digests = F.transform(_portable_words(text_col), lambda w: F.md5(w))

    def pack(d: Column) -> Column:
        return F.conv(F.substring(d, 1, 16), 16, -10).cast("long")

    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col),
            F.transform(digests, pack).alias("__h"),
        )
        .filter(F.size("__h") > 0)
    )
    votes = F.expr(
        "aggregate(__h, array_repeat(0L, 64),"
        " (acc, h) -> zip_with(acc, sequence(0, 63),"
        "   (a, j) -> a + IF((shiftright(h, j) & 1) = 1, 1L, -1L)))"
    )
    word_expr = (
        "aggregate(zip_with(slice(__v, {start}, 32), sequence(0, 31),"
        " (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), 0L, (a, x) -> a | x)"
    )
    hi = F.expr(word_expr.format(start=33))
    lo = F.expr(word_expr.format(start=1))
    return hashed.select(F.col(id_col), votes.alias("__v")).select(
        F.col(id_col),
        F.lower(
            F.concat(F.lpad(F.hex(hi), 8, "0"), F.lpad(F.hex(lo), 8, "0"))
        ).alias("simhash"),
    )


def simhash_64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """64-bit SimHash over word hashes: bit j of the fingerprint is the
    sign of Σ_tokens (±1 depending on bit j of xxhash64(token)).

    The whole fingerprint is computed **per row** — no explode, no
    groupBy, ZERO shuffle: a pure map stage pipelined into the scan at
    any corpus size.  Tokenize + xxhash64 stay JVM-side; the 64-bit vote
    fold runs vectorized in numpy (:func:`_simhash_fold_arrow`) by
    default, or as the pure-SQL ``aggregate``/``zip_with`` fold with
    ``use_arrow=False`` (interpreted — kept for bit-equality tests).
    Documents with no tokens are dropped, matching the previous
    explode/groupBy semantics.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != F.lit("")
    )
    df = _spread(df, id_col)
    hashed = df.select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("__h"),
    ).filter(F.size("__h") > 0)
    if use_arrow:
        return _simhash_fold_arrow(hashed, id_col).select(
            F.col(id_col), F.col("__fp").alias("simhash")
        )
    votes = F.expr(
        "aggregate(__h, array_repeat(0L, 64),"
        " (acc, h) -> zip_with(acc, sequence(0, 63),"
        "   (a, j) -> a + IF((shiftright(h, j) & 1) = 1, 1L, -1L)))"
    )
    fp = F.expr(
        "aggregate(zip_with(__v, sequence(0, 63),"
        " (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), 0L, (a, x) -> a | x)"
    )
    return (
        hashed.select(F.col(id_col), votes.alias("__v"))
        .select(F.col(id_col), fp.alias("simhash"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity, candidate-then-verify:

    1. Candidate pairs come from an inverted-index self-join **capped by
       gram document frequency** — any gram appearing in more than
       ``max_gram_df`` documents is dropped from the index (a stop-word
       bigram like "of the" would otherwise create a quadratic bucket at
       corpus scale; the cap makes the join linear).
    2. Each candidate pair is verified *exactly* with
       ``array_intersect`` over the full gram arrays, so the reported
       jaccard is exact — the cap only prunes candidate generation.

    A true near-duplicate (jaccard ≥ 0.5) shares many grams; for it to be
    missed, every shared gram would have to be hotter than ``max_gram_df``
    — vanishingly unlikely for real text at any sensible cap.

    The verification is **array-free**: a shared gram by definition has
    document frequency ≥ 2, so the exact intersection size decomposes as
    |A∩B| = (shared rare grams — the self-join's per-pair match count)
    + (shared hot grams — intersect of tiny per-doc hot-gram sets).  The
    full gram arrays never travel through a join; only (hash, id) pairs
    and a per-doc summary (size + hot set, ≲ #hot-grams entries) do —
    at 100 TB the wide text columns stay at the scan.
    """
    # grams are 64-bit hashes end-to-end — the exploded index and the
    # self-join shuffle carry longs, never gram strings (equal grams ⇒
    # equal hashes; a 2^-64 collision is the accepted trade).  The hash
    # runs AFTER the explode so it compiles into the whole-stage-codegen
    # scan stage; hashing inside a ``transform`` lambda runs xxhash64
    # interpreted per array element — measured 8.4× slower at the sf1
    # rung (4.03 → 0.48 s for the index build, value-identical).
    inv = (
        _spread(df, id_col)
        .select(
            F.col(id_col),
            F.explode(_word_ngrams(F.col(text_col), n)).alias("__g"),
        )
        .select(F.col(id_col), F.xxhash64("__g").alias("g"))
    )
    # document frequency per gram: partial-aggregating groupBy (a
    # stop-word gram's count combines map-side — skew-proof), then ONE
    # 1:N annotate join back onto the index.  The join streams under
    # sort-merge (the gdf side has one row per gram) and its exchange on
    # ``hash(g)`` is REUSED with the groupBy's, so the shingle pipeline
    # runs once.  Persisting AFTER the join (not the index before it)
    # keeps that reuse — an InMemoryRelation drops output partitioning —
    # and the cached annotated frame then feeds the rare self-join and
    # the per-doc summary without recompute.  Measured 1.6× at bench
    # scale vs the previous semi-join + left-join shape.
    gdf = inv.groupBy("g").agg(F.count("*").alias("gdf"))
    ann = _track_persist(inv.join(gdf, "g"))
    # document-frequency cap: only grams rare enough to be selective
    # feed the self-join (a stop-word bigram would be quadratic)
    rare_inv = ann.filter(
        (F.col("gdf") <= F.lit(max_gram_df)) & (F.col("gdf") >= 2)
    ).select(id_col, "g")
    a, b = rare_inv.alias("a"), rare_inv.alias("b")
    # per-pair count of shared rare grams — candidate generation and the
    # rare half of exact verification in ONE aggregation
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("c_rare"))
    )
    # per-doc summary: total gram count + the (tiny) set of hot grams —
    # small enough that AQE broadcasts it at bench scale and
    # shuffle-joins it on the doc key beyond that.  collect_set skips
    # nulls, so only hot grams land in the set.
    summary = ann.groupBy(id_col).agg(
        F.count("*").alias("sz"),
        F.sort_array(
            F.collect_set(
                F.when(F.col("gdf") > F.lit(max_gram_df), F.col("g"))
            )
        ).alias("hot_gs"),
    )
    sa = summary.select(
        F.col(id_col).alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("hot_gs").alias("hot_a"),
    )
    sb = summary.select(
        F.col(id_col).alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("hot_gs").alias("hot_b"),
    )
    inter = F.col("c_rare") + F.size(F.array_intersect("hot_a", "hot_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _vector_key(col):
    """Vector-identity key for the distinct-vector-space collapse: TWO
    independently-seeded xxhash64 values packed in a struct.  A single
    64-bit key silently merges distinct vectors on collision (birthday
    risk ~n²/2^65 at corpus scale), which would compute cosines against
    an arbitrary ``first()`` representative; the paired key pushes the
    risk to ~2^-128 while staying a fixed-width codegen compare (struct
    equality/ordering are native Spark operations)."""
    return F.struct(
        F.xxhash64(col).alias("h1"), F.xxhash64(F.lit(1), col).alias("h2")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Embedding cosine near-duplicates, LSH-bucketed: random-hyperplane
    sign bits bucket the vectors; exact cosine verifies candidates inside
    each bucket.  Brute force inside a bucket is fine — buckets shrink
    exponentially with ``planes``."""
    import numpy as np

    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")
    dim = first["d"]
    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))

    def plane_bit(p: int) -> Column:
        coeffs = F.array(*[F.lit(float(c)) for c in hyper[p]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))

    bucket = sum([plane_bit(p) for p in range(planes)], F.lit(0))
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x)
    )
    # Candidate verification runs in DISTINCT-vector space: exact
    # duplicates all land in the same bucket regardless of ``planes``
    # (the bucket is a function of the vector), so the naive member
    # self-join is k² the necessary cosine folds on a corpus with k
    # copies per vector.  Collapse to xxhash64(vector) groups: the
    # cosine is computed once per GROUP pair (bit-identical — same
    # arrays, commutative fp muls) and the qualifying pairs expand back
    # to member ids with plain codegen equality joins.  The pair OUTPUT
    # stays quadratic in clique size — that is the operator's contract.
    v = df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"), norm.alias("norm"))
    keyed = v.select(
        F.col(id_col), _vector_key(F.col(vec_col)).alias("__vkey")
    )
    groups = v.groupBy("bucket", _vector_key(F.col(vec_col)).alias("__vkey")).agg(
        F.first(vec_col).alias("__gv"), F.first("norm").alias("__gn")
    )

    def _dot(u, w):
        return F.aggregate(
            F.zip_with(u, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # intra-group pairs: cosine of a vector with itself, one fold per group
    self_cos = (_dot(F.col("__gv"), F.col("__gv")) / (F.col("__gn") * F.col("__gn")))
    intra_groups = groups.select(
        "__vkey", self_cos.alias("cosine")
    ).filter(F.col("cosine") >= threshold)
    ka = keyed.select(F.col("__vkey"), F.col(id_col).alias("id_a"))
    kb = keyed.select(F.col("__vkey").alias("__kb"), F.col(id_col).alias("id_b"))
    intra = (
        intra_groups.join(ka, "__vkey")
        .join(kb, (F.col("__vkey") == F.col("__kb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "cosine")
    )
    # cross-group pairs: one fold per distinct-vector pair per bucket
    ga = groups.select(
        "bucket", F.col("__vkey").alias("__ka"),
        F.col("__gv").alias("__va"), F.col("__gn").alias("__na"),
    )
    gb = groups.select(
        F.col("bucket").alias("__bb"), F.col("__vkey").alias("__kb2"),
        F.col("__gv").alias("__vb"), F.col("__gn").alias("__nb"),
    )
    cross_groups = (
        ga.join(gb, (F.col("bucket") == F.col("__bb")) & (F.col("__ka") < F.col("__kb2")))
        .select(
            "__ka", "__kb2",
            (_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    cross = (
        cross_groups.join(ka.withColumnRenamed("__vkey", "__ka"), "__ka")
        .join(kb.withColumnRenamed("__kb", "__kb2"), "__kb2")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cosine",
        )
    )
    return intra.unionByName(cross)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve duplicate-candidate pairs into clusters: (node, cluster)
    where cluster is the minimum reachable node id — the step that turns
    near-dup PAIRS into keep/drop decisions (one representative per
    cluster).

    Iterative min-label propagation: each round joins every node's
    current label against its neighbors' labels and keeps the minimum.
    Converges in O(diameter) rounds — near-dup clusters are dense and
    shallow, so a handful of rounds suffice at any corpus size; each
    round is one shuffle keyed by node id.  The convergence check is a
    scalar aggregate (sum of labels) — no row data ever reaches the
    driver.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
    )
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # localCheckpoint per round truncates the plan lineage — without it
    # the iterative join tree grows superlinearly and the optimizer
    # chokes long before the data does
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("cluster")).first()[0]
    for _ in range(max_iter):
        # hop 1: min over direct neighbors
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("cluster").alias("nmin"))
        )
        l1 = labels.join(
            neighbor_min, labels["node"] == neighbor_min["u"], "left"
        ).select(
            "node",
            F.least(
                F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jumping: follow my label's label — halves the distance
        # to the cluster minimum each round (O(log diameter) total)
        m = l1.select(
            F.col("node").alias("mnode"), F.col("cluster").alias("mcluster")
        )
        new_labels = (
            l1.join(m, l1["cluster"] == m["mnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("mcluster"), F.col("cluster")),
                ).alias("cluster"),
            )
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("cluster")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:  # labels are monotonically non-increasing
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels


def dedup_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Keep one representative (minimum id) per duplicate cluster plus
    every document that appears in no candidate pair — the final
    keep-set of a near-dup pipeline.  Cost: the component resolution
    plus one broadcast-size anti-join per cluster map (cluster count ≪
    corpus size)."""
    comp = connected_components(pairs, a_col, b_col)
    drop = comp.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def cross_corpus_exact_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup: rows of ``new_df`` whose EXACT text
    already exists in ``corpus_df`` are dropped (then exact-deduped
    within the batch itself).

    Scale shape: both sides reduce to (content_hash) before the
    anti-join — the corpus side is a map-side-aggregated distinct of
    hashes only (text never shuffles), so at 100 TB the join carries
    one 16-byte hash per distinct corpus document."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    corpus_hashes = corpus_df.select(h).distinct()
    keyed = new_df.withColumn("content_hash", F.md5(F.col(text_col)))
    fresh = keyed.join(corpus_hashes, "content_hash", "left_anti")
    return exact_dedup(fresh.drop("content_hash"), text_col, id_col)


def decontaminate(
    train_df: DataFrame,
    benchmark_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing at
    least ``min_hits`` distinct word ``n``-grams with any benchmark
    document (the standard n-gram-overlap contamination test, n≈8-13
    in published LLM data pipelines).

    Scale shape: the benchmark side is small by definition — its
    distinct gram set is collected into a BROADCAST join against the
    exploded training grams, so the training corpus is one map-side
    pass + a per-document hit count; no training-side self-join, no
    shuffle of text.

    Gram identity on both sides is xxhash64 over the n token refs
    (struct explode, hashed post-explode in whole-stage codegen) — the
    previous spelling built every 8-token gram STRING through an
    interpreted zip_with(concat_ws) chain and joined on the strings
    (17.2 → ~2 s at the sf1 rung; equal grams ⇒ equal tuples ⇒ equal
    hashes, 2^-64 collisions are the module's accepted trade)."""

    def gram_hashes(df_side, *id_cols):
        words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        cnt = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
        zipped = F.arrays_zip(
            *[F.slice(words, j + 1, cnt).alias(f"w{j}") for j in range(n)]
        )
        return df_side.select(
            *[F.col(c) for c in id_cols],
            F.explode(F.array_distinct(zipped)).alias("__p"),
        ).select(
            *[F.col(c) for c in id_cols],
            F.xxhash64(*[F.col(f"__p.w{j}") for j in range(n)]).alias("g"),
        )

    bench_grams = gram_hashes(benchmark_df).distinct()
    train_grams = gram_hashes(_spread(train_df, id_col), id_col)
    contaminated = (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .count()
        .filter(F.col("count") >= min_hits)
        .select(id_col)
    )
    return train_df.join(contaminated, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "v1",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023: cluster the embedding space, then drop items
    whose cosine similarity to another item in the same cluster exceeds
    ``threshold``).

    Clustering here is a one-shot spherical assignment against
    ``n_clusters`` deterministic seed vectors — the ``n_clusters`` rows
    with the smallest ``md5(salt:id)`` (a uniform, engine-portable
    sample; the same trick :func:`stratified_sample` uses).  Assignment
    is argmax over ``dot(v, seed) / |seed|`` (equals cosine argmax —
    ``|v|`` is constant per row), tie-broken by seed rank.  For a
    trained-centroid variant use :class:`~prometheus_spark.pipeline.
    similarity.IvfIndex` and feed its ``cid`` column to the same
    within-cluster prune.

    The prune keeps a vector iff NO smaller-id vector in its cluster is
    ``>= threshold`` cosine-similar — deterministic, order-free.

    Returns (id, cid) for the kept vectors.

    Scale: the seed table is ``n_clusters`` rows (broadcast); assignment
    shuffles (id, sim, rank) triples with map-side partial max — one
    keyed shuffle of O(rows) narrow tuples, embeddings never shuffle for
    it.  The within-cluster self-join is quadratic per cluster, which is
    the SemDeDup design point: pick ``n_clusters`` so clusters fit the
    quadratic budget (the published pipelines use k≈10⁴-10⁵ for
    billion-item corpora).
    """
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    from pyspark.sql import Window

    # single-file bench inputs otherwise serialize the assignment stage
    # (8 interpreted dot folds per row) into one scan task
    df = _spread(df, id_col)
    seeds = (
        df.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy("__h")
        .limit(n_clusters)
    )
    seeds = seeds.select(
        F.row_number().over(Window.orderBy("__h")).alias("__rank"),
        F.col(vec_col).alias("__sv"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
            )
        ).alias("__snorm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("__sv"), lambda x, c: x.cast("double") * c.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    assigned = (
        df.join(F.broadcast(seeds))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.struct(
                (dot / F.col("__snorm")).alias("sim"),
                (-F.col("__rank")).alias("neg_rank"),
                F.col("__rank").alias("rank"),
            ).alias("__cand"),
        )
        .groupBy(id_col, vec_col)
        .agg(F.max("__cand").alias("__best"))
        .select(
            F.col(id_col), F.col(vec_col), F.col("__best.rank").alias("cid")
        )
    )
    # Within-cluster prune, quadratic in DISTINCT vectors, not rows.
    # The naive member×member self-join put the interpreted cosine fold
    # into a SortMergeJoin predicate over every pair — on a corpus with
    # k exact copies of each vector that is k² the necessary work (the
    # sf10 replication ladder has k=100 → 10,000× pairs; one stage ran
    # 86 min before this rewrite).  Identical vectors ⇒ identical cosine
    # against anything, so the pair set collapses to vector-GROUPS
    # (xxhash64 of the array): a member is dominated iff the smallest id
    # among qualifying groups (cosine ≥ threshold, own group included
    # via its self-cosine) is smaller than the member's id.  Group-level
    # cosines are bit-identical to the member-level ones (same arrays,
    # same fold; fp multiplication is commutative), so the kept set is
    # exactly the old one.
    keyed = assigned.select(
        F.col(id_col), F.col("cid"), _vector_key(F.col(vec_col)).alias("__vkey")
    )

    def _nrm(c):
        return F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
        )

    def _cos(u, v):
        pdot = F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return pdot / (_nrm(u) * _nrm(v))

    groups = assigned.groupBy("cid", _vector_key(F.col(vec_col)).alias("__vkey")).agg(
        F.min(id_col).alias("__gmin"), F.first(vec_col).alias("__gv")
    )
    ga = groups.select(
        "cid", F.col("__vkey").alias("__ka"),
        F.col("__gv").alias("__va"),
        # own group qualifies through its (numerical) self-cosine —
        # identical vectors are ≥ threshold for any threshold ≤ ~1
        F.when(
            _cos(F.col("__gv"), F.col("__gv")) >= F.lit(threshold),
            F.col("__gmin"),
        ).alias("__own_min"),
    )
    gb = groups.select(
        "cid", F.col("__vkey").alias("__kb"),
        F.col("__gv").alias("__vb"), F.col("__gmin").alias("__bmin"),
    )
    cross_min = (
        ga.join(gb, (ga["cid"] == gb["cid"]) & (F.col("__ka") != F.col("__kb")))
        .filter(_cos(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
        .groupBy(ga["cid"].alias("cid"), F.col("__ka"))
        .agg(F.min("__bmin").alias("__cross_min"))
    )
    qual = (
        ga.select("cid", F.col("__ka"), "__own_min")
        .join(cross_min, ["cid", "__ka"], "left")
        .select(
            "cid", F.col("__ka").alias("__vkey"),
            F.least("__own_min", "__cross_min").alias("__qual_min"),
        )
    )
    kept = (
        keyed.join(qual, ["cid", "__vkey"], "left")
        .filter(F.col("__qual_min").isNull() | (F.col("__qual_min") >= F.col(id_col)))
    )
    return kept.select(F.col(id_col), F.col("cid").cast("long").alias("cid"))


def paragraph_dedup(
    df: DataFrame,
    sep: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup: every paragraph keeps
    only its FIRST occurrence (smallest (doc_id, position)); later
    repeats across or within documents are dropped and the documents
    re-assembled — the paragraph-granular pass most public LLM data
    recipes run between document-level dedup and span removal.

    Returns (id, clean_text, n_removed) — n_removed counts dropped
    paragraphs; a document whose every paragraph appeared earlier comes
    back empty.

    Scale: the keep/drop decision shuffles only (md5, id, pos) triples
    (window ``row_number`` keyed by the 16-byte hash); paragraph text
    shuffles once, keyed by the document id, for re-assembly.  Skewed
    boilerplate paragraphs concentrate on one hash key but carry no
    text — AQE's skew handling splits the decision partition if needed.
    """
    from pyspark.sql import Window

    paras = F.filter(
        F.transform(F.split(F.col(text_col), sep), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )
    exploded = df.select(F.col(id_col), F.posexplode(paras).alias("pos", "para"))
    decisions = exploded.select(
        F.col(id_col), "pos", F.md5(F.col("para")).alias("__h")
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    first = decisions.select(
        F.col(id_col).alias("__kid"), F.col("pos").alias("__kpos"),
        F.row_number().over(w).alias("__rn"),
    ).filter(F.col("__rn") == 1)
    kept = exploded.join(
        first,
        (exploded[id_col] == first["__kid"]) & (exploded["pos"] == first["__kpos"]),
        "left_semi",
    )
    n_paras = df.select(F.col(id_col), F.size(paras).cast("long").alias("__n"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    return n_paras.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("__n") - F.coalesce("__n_kept", F.lit(0))).cast("long").alias("n_removed"),
    )


def repeated_substring_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
) -> DataFrame:
    """Exact repeated-substring detection à la "Deduplicating Training
    Data Makes Language Models Better" (Lee et al., 2022): every
    length-``window`` token run whose exact text occurs ≥ 2 times in the
    corpus — across OR within documents — is flagged.  Returns one row
    per document with ≥ 1 window:
    ``(doc_id, n_windows, n_repeated, first_repeated, last_repeated)``
    (positions 1-based; first/last are 0 when nothing repeats — a
    non-null sentinel keeps the frame join/compare-friendly).

    The published method builds a corpus-wide suffix array; the Spark
    shape replaces it with fixed-width window fingerprints — an
    inverted index over xxhash64(window text) (equal windows ⇒ equal
    hashes; 2^-64 collisions accepted as in :func:`ngram_jaccard_pairs`).
    Runs with to the skew-safe annotate-join pattern: the per-window
    count is a partial-aggregating groupBy (a boilerplate window
    repeated millions of times combines map-side), the 1:N join back
    streams under sort-merge with the groupBy's exchange REUSED, and
    there is no self-join at all — cost is linear in corpus tokens.
    Documents shorter than ``window`` tokens have no windows and are
    absent from the output.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    toks = (
        _spread(df, id_col)
        .select(F.col(id_col), words.alias("__w"))
        # docs shorter than the window have no windows
        .filter(F.size("__w") >= window)
    )
    # Window key = xxhash64 over the STRUCT of the ``window`` token refs
    # (arrays_zip of shifted slices — the topk_ngrams trick), hashed
    # AFTER the posexplode so it runs whole-stage codegen'd.  The
    # previous spelling — ``transform(sequence(...), i ->
    # xxhash64(concat_ws(slice(...))))`` — copied an O(window) slice and
    # built a window string per position, all interpreted: measured 24×
    # at the sf1 rung (37.0 → 1.5 s, identical output).  Equivalent
    # keying: tokens come from a split on \s+, so window text ↔ token
    # tuple is a bijection and equal windows still collide to equal
    # hashes (the 2^-64 accepted trade is unchanged).
    cnt = F.size(F.col("__w")) - F.lit(window - 1)
    parts = [
        F.slice(F.col("__w"), j + 1, cnt).alias(f"w{j}") for j in range(window)
    ]
    inv = toks.select(
        F.col(id_col),
        F.posexplode(F.arrays_zip(*parts)).alias("__pos0", "__p"),
    ).select(
        F.col(id_col),
        (F.col("__pos0") + 1).alias("pos"),
        F.xxhash64(*[F.col(f"__p.w{j}") for j in range(window)]).alias("g"),
    )
    cnt = inv.groupBy("g").agg(F.count("*").alias("__c"))
    ann = inv.join(cnt, "g")
    rep = F.col("__c") >= 2
    return ann.groupBy(id_col).agg(
        F.count("*").alias("n_windows"),
        F.sum(rep.cast("long")).alias("n_repeated"),
        F.coalesce(F.min(F.when(rep, F.col("pos"))), F.lit(0)).alias(
            "first_repeated"
        ),
        F.coalesce(F.max(F.when(rep, F.col("pos"))), F.lit(0)).alias(
            "last_repeated"
        ),
    )
