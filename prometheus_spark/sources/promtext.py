"""Prometheus text exposition format parser (ingest boundary).

Reference: model/textparse/promparse.go (line-oriented format:
``metric{l="v",...} value [timestamp_ms]``, ``# HELP/# TYPE`` comments).
Re-derived line grammar, not a translation.

The batch/streaming entry point is ``parse_exposition_df`` — an
Arrow-batched ``mapInPandas`` over raw lines (ingest parse is the one
place a Python inner loop is acceptable: it runs once per scraped byte,
not per query, and stays vectorized at the batch level).
"""

from __future__ import annotations

import math
import re
from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_LINE_RE = re.compile(
    r"""^
    (?:
      (?P<name>[a-zA-Z_:][a-zA-Z0-9_:]*)
      (?:\{(?P<labels>.*)\})?
      |
      \{(?P<qlabels>.*)\}   # UTF-8 names: {"metric.name","l.x"="v"}
    )
    \s+
    (?P<value>[^\s]+)
    (?:\s+(?P<ts>-?\d+))?
    \s*$""",
    re.VERBOSE,
)
_LABEL_RE = re.compile(
    r'\s*(?P<k>[a-zA-Z_][a-zA-Z0-9_]*)\s*=\s*"(?P<v>(?:\\.|[^"\\])*)"\s*(?:,|$)'
)
# UTF-8 name extension (textparse; OpenMetrics 1.0 quoted names): label
# names — and a leading bare string carrying the metric name — are
# double-quoted inside the brace block: {"metric.name","l.x"="v"}
_QLABEL_RE = re.compile(
    r'\s*"(?P<k>(?:\\.|[^"\\])*)"\s*=\s*"(?P<v>(?:\\.|[^"\\])*)"\s*(?:,|$)'
)
_QNAME_RE = re.compile(r'\s*"(?P<n>(?:\\.|[^"\\])*)"\s*(?:,|$)')
_ESCAPES = {"\\n": "\n", "\\\\": "\\", '\\"': '"'}


def parse_labelblob_utf8(blob: str, line: str, allow_name: bool) -> dict:
    """Brace-block contents → labels dict.  Accepts classic pairs,
    quoted-name pairs, and (``allow_name``) one leading bare quoted
    string that becomes ``__name__``."""
    labels: dict[str, str] = {}
    pos = 0
    first = True
    while pos < len(blob):
        lm = _LABEL_RE.match(blob, pos) or _QLABEL_RE.match(blob, pos)
        if lm:
            labels[_unescape(lm.group("k")) if lm.re is _QLABEL_RE
                   else lm.group("k")] = _unescape(lm.group("v"))
            pos = lm.end()
            first = False
            continue
        if first and allow_name:
            nm = _QNAME_RE.match(blob, pos)
            if nm:
                labels["__name__"] = _unescape(nm.group("n"))
                pos = nm.end()
                first = False
                continue
        if blob[pos:].strip() in ("", ","):
            break
        raise ValueError(f"invalid labels in line: {line!r}")
    return labels


def _unescape(v: str) -> str:
    """Single-pass unescape (textparse replacer semantics): sequential
    str.replace would mis-decode ``\\\\n`` (escaped backslash followed
    by a literal n) as backslash+newline because the second replace sees
    the freshly-produced backslash."""
    if "\\" not in v:
        return v
    out = []
    i = 0
    n = len(v)
    while i < n:
        c = v[i]
        if c == "\\" and i + 1 < n:
            out.append(_ESCAPES.get(v[i : i + 2], v[i : i + 2]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_value(s: str) -> float:
    ls = s.lower()
    if ls in ("+inf", "inf"):
        return math.inf
    if ls == "-inf":
        return -math.inf
    if ls == "nan":
        return math.nan
    return float(s)


def parse_exposition_text(
    text: str, default_ts_ms: int = 0
) -> list[tuple[dict, int, float]]:
    """Parse one scrape body → [(labels incl __name__, t_ms, value)]."""
    out = []
    for line in text.split("\n"):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = _LINE_RE.match(line)
        if not m:
            raise ValueError(f"invalid exposition line: {line!r}")
        if m.group("qlabels") is not None:
            # UTF-8 quoted-name form: {"metric.name","l"="v"} value
            labels = parse_labelblob_utf8(m.group("qlabels"), line, True)
            if "__name__" not in labels:
                raise ValueError(f"missing metric name in line: {line!r}")
        else:
            labels = {"__name__": m.group("name")}
            blob = m.group("labels")
            if blob:
                labels.update(parse_labelblob_utf8(blob, line, False))
        ts = int(m.group("ts")) if m.group("ts") else default_ts_ms
        out.append((labels, ts, _parse_value(m.group("value"))))
    return out


# Arrow's pandas converter can't build map columns — the Python branch
# ships parallel arrays and to_samples() assembles the map JVM-side.
# ``sig``/``name``/``labels`` are optional precomputed columns: the JVM
# fast path derives all three from ONE canonicalized pair string (a
# single regexp_replace), which is ~3x cheaper than re-deriving them
# from the arrays in to_samples (interpreted higher-order transforms).
# NULL means "derive from the arrays" (Python-parsed rows); ``name``
# is also emitted by the Python branch (it knows it for free).
PARSED_SCHEMA = T.StructType(
    [
        T.StructField("label_keys", T.ArrayType(T.StringType()), False),
        T.StructField("label_values", T.ArrayType(T.StringType()), False),
        T.StructField("t", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("sig", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField(
            "labels", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)


# Fast-path classifier: a line is JVM-parseable when it has a classic
# metric name, a brace block of classic keys with BACKSLASH-FREE quoted
# values (no escapes ⇒ every '"' is structural, so the blob splits on
# '",' boundaries without a state machine), a numeric/inf/nan value
# token, and an optional ≤18-digit timestamp.  Everything else (UTF-8
# quoted names, escaped label values, exotic float spellings like
# '1_0' or 'infinity', oversized timestamps) takes the Python parser.
# Values are additionally required free of the \x1e/\x1f canonical-sig
# separator bytes: the fast path canonicalizes the pair block into a
# separator-joined string (one regexp_replace feeding both str_to_map
# and the signature), which such values would corrupt — they route to
# the exact Python parser instead.
_FAST_PAIR = '[a-zA-Z_][a-zA-Z0-9_]*\\s*=\\s*"[^"\\\\\u001E\u001F]*"'
_FAST_LINE_RE = (
    r"^[a-zA-Z_:][a-zA-Z0-9_:]*"
    r"(\{\s*(" + _FAST_PAIR + r"(\s*,\s*" + _FAST_PAIR + r")*(\s*,)?\s*)?\})?"
    r"\s+([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|[+-]?(?:[iI][nN][fF]|[nN][aA][nN]))"
    r"(\s+-?[0-9]{1,18})?\s*$"
)


def _fast_parse_frame(src, s, default_ts):
    """Fast-classified lines -> PARSED_SCHEMA columns, all JVM-side.

    ONE regexp_replace canonicalizes the pair block ``k1="v1",k2="v2"``
    into the separator-joined string ``k1\\x1ev1\\x1fk2\\x1ev2`` - the
    labels map is then a plain ``str_to_map`` and the canonical sig a
    sort+join of the split pairs plus the ``__name__`` pair.  This
    replaces the previous per-pair array transforms (interpreted
    higher-order expressions, CodegenFallback - measured ~2.2 s of the
    4.6 s append stage at 4.5M lines) and the per-row re-derivation of
    the sig from the arrays in ``to_samples`` (the classifier guarantees
    values are free of ``\\x1e``/``\\x1f``, so the canonicalization is
    lossless).  Pair-string sort order equals (key, value) struct order
    because ``\\x1e`` sorts below every character legal in a classic
    label key.

    Two-stage projection with a non-deterministic no-op on the canon
    string: sort_array is a CodegenFallback expression that re-evaluates
    its whole child tree interpreted - anchoring canon as a materialized
    attribute (CollapseProject keeps non-deterministic outputs
    referenced more than once in their own Project) makes the fallback
    read a row field instead of re-running the regex chain per row
    (guide 4.4's duplicate-evaluation fix, applied to an expression)."""
    from pyspark.sql import functions as F

    KV, PS = "\u001E", "\u001F"
    name = F.regexp_extract(s, r"^([a-zA-Z_:][a-zA-Z0-9_:]*)", 1)
    blob = F.regexp_extract(s, r"^[a-zA-Z_:][a-zA-Z0-9_:]*\{(.*)\}", 1)
    b1 = F.rtrim(F.ltrim(blob))
    # each pair match consumes its own trailing comma/space; the result
    # always ends with one \x1f per pair (stripped before use)
    canon = F.regexp_replace(
        b1,
        '([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*"([^"]*)"\\s*,?\\s*',
        "$1" + KV + "$2" + PS,
    )
    # value/timestamp live after the LAST '}' (value and ts are
    # brace-free by classification; label values may contain '}')
    tail = (
        F.when(s.contains("{"), F.regexp_extract(s, r"\}([^}]*)$", 1))
        .otherwise(F.regexp_replace(s, r"^[a-zA-Z_:][a-zA-Z0-9_:]*", ""))
    )
    tokens = F.split(F.trim(tail), r"\s+")
    value_tok = F.element_at(tokens, 1)
    lv = F.lower(value_tok)
    value = (
        F.when(lv.isin("inf", "+inf"), F.lit(float("inf")))
        .when(lv == "-inf", F.lit(float("-inf")))
        .when(lv.endswith("nan"), F.lit(float("nan")))
        .otherwise(value_tok.cast("double"))
    )
    ts_parsed = F.when(
        F.size(tokens) >= 2, F.element_at(tokens, 2).cast("long")
    )
    t = F.coalesce(ts_parsed, default_ts)
    nd_noop = F.substring(F.expr("uuid()"), 1, 0)  # '' but non-deterministic
    stage = src.select(
        F.concat(canon, nd_noop).alias("__canon"),
        name.alias("name"),
        t.alias("t"),
        value.alias("value"),
    )
    canon_c = F.col("__canon")
    body = F.substring(canon_c, 1, F.length(canon_c) - 1)
    npair = F.concat_ws(KV, F.lit("__name__"), F.col("name"))
    empty = canon_c == ""
    sig = F.when(empty, npair).otherwise(
        F.array_join(
            F.sort_array(F.concat(F.array(npair), F.split(body, PS, -1))), PS
        )
    )
    name_map = F.create_map(F.lit("__name__"), F.col("name"))
    labels = F.when(empty, name_map).otherwise(
        F.map_concat(name_map, F.str_to_map(body, F.lit(PS), F.lit(KV)))
    )
    # parallel arrays derive from the one labels map (PARSED_SCHEMA
    # contract with the Python branch); map_keys/map_values are codegen
    # and insertion order - __name__ first, then source order - matches
    # the previous per-pair transform construction
    return stage.select(
        F.map_keys(labels).alias("label_keys"),
        F.map_values(labels).alias("label_values"),
        "t",
        "value",
        sig.alias("sig"),
        "name",
        labels.alias("labels"),
    )



def parse_exposition_df(
    lines: DataFrame, line_col: str = "line", ts_col: Optional[str] = None
) -> DataFrame:
    """Raw-lines DataFrame → parsed samples (labels, t, value).

    Works identically on a batch frame or a ``readStream`` frame (e.g.
    file/socket/Kafka source) — append ``.writeStream`` downstream for
    streaming ingest with checkpointing as the WAL equivalent.

    Ingest is parse-bound (BENCH_INGEST: the Python line parser was ~87%
    of pipeline cost), so lines matching a strict classifier regex are
    parsed entirely JVM-side inside whole-stage codegen; only lines the
    fast grammar can't express (escapes, quoted UTF-8 names, exotic
    float spellings) go through the Arrow-batched Python parser
    (:func:`_parse_python`, also the parity reference for the fast
    grammar).
    """
    cols = [line_col] + ([ts_col] if ts_col else [])
    return _parse_hybrid_onepass(lines.select(*cols), line_col, ts_col)


def _parse_hybrid_onepass(
    src: DataFrame, line_col: str, ts_col: Optional[str]
) -> DataFrame:
    """Hybrid fast/slow parse — filter + union.

    A true one-pass formulation was built and MEASURED SLOWER (round 12):
    wrapping the fast parse in ``explode(array(struct(...)))`` so slow
    lines' multi-sample arrays could share one projection costs +2.7 s
    on 4.5M lines (per-row array+struct allocation through Generate) and
    the null-input Arrow UDF node adds another ~1 s — 4.9 s total vs
    1.8 s for this shape.  The union's duplicated work is small: the
    classifier regex is 0.33 s/pass and the source re-scan is a
    localCheckpoint/file read, while each branch keeps a flat
    whole-stage-codegen projection.
    """
    from pyspark.sql import functions as F

    s = F.trim(F.col(line_col))
    is_content = (s != F.lit("")) & (~s.startswith("#"))
    default_ts = F.col(ts_col).cast("long") if ts_col else F.lit(0).cast("long")
    is_fast = is_content & s.rlike(_FAST_LINE_RE)
    fast = _fast_parse_frame(src.filter(is_fast), s, default_ts)
    slow = _parse_python(
        src.filter(is_content & ~s.rlike(_FAST_LINE_RE)), line_col, ts_col
    )
    return fast.unionByName(slow)


def _parse_python(src: DataFrame, line_col: str, ts_col: Optional[str]) -> DataFrame:
    """The Arrow-batched Python parser (full grammar)."""
    import pandas as pd

    from prometheus_spark.shipping import ensure_shipped

    ensure_shipped(src.sparkSession)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out_k, out_vv, out_t, out_v = [], [], [], []
            out_n = []
            for i, line in enumerate(pdf[line_col]):
                default_ts = int(pdf[ts_col].iloc[i]) if ts_col else 0
                line = (line or "").strip()
                if not line or line.startswith("#"):
                    continue
                for labels, t, v in parse_exposition_text(line, default_ts):
                    out_k.append(list(labels.keys()))
                    out_vv.append(list(labels.values()))
                    out_t.append(t)
                    out_v.append(v)
                    out_n.append(labels.get("__name__"))
            # explicit dtypes: an empty partition would otherwise default
            # to float64 columns, which Arrow can't cast to list<string>
            yield pd.DataFrame(
                {
                    "label_keys": pd.Series(out_k, dtype=object),
                    "label_values": pd.Series(out_vv, dtype=object),
                    "t": pd.Series(out_t, dtype="int64"),
                    "value": pd.Series(out_v, dtype="float64"),
                    # sig/labels NULL ⇒ to_samples derives them from the
                    # arrays (exact canonical struct-sort path; Arrow
                    # can't marshal dicts to a map column from pandas)
                    "sig": pd.Series([None] * len(out_t), dtype=object),
                    "name": pd.Series(out_n, dtype=object),
                    "labels": pd.Series([None] * len(out_t), dtype=object),
                }
            )

    parsed = src.mapInPandas(batches, PARSED_SCHEMA)
    # pandas→Arrow folds float NaN into null; the parser itself never
    # emits null (every sample line has a float value), so any null here
    # IS a NaN sample — restore it (a scraped NaN must ingest as NaN)
    from pyspark.sql import functions as F

    return parsed.withColumn(
        "value", F.coalesce(F.col("value"), F.lit(float("nan")))
    )


def to_samples(parsed: DataFrame) -> DataFrame:
    """Parsed rows → canonical samples layout (adds sig/name/stale)."""
    from pyspark.sql import functions as F

    from prometheus_spark.model.labels import KV_SEP, PAIR_SEP

    # signature straight from the parallel arrays.  Formulation matters:
    # arrays_zip + array_sort(struct, lambda cmp) + transform run as
    # INTERPRETED higher-order expressions (CodegenFallback) and cost
    # ~2.2 s / 4.5M samples; zip_with + natural-order sort_array on the
    # pair strings computes the identical signature at 0.77 s.  Pair-
    # string order equals (key, value) struct order because the \x1e
    # separator sorts below every character legal in a label key —
    # divergence would need a key containing bytes < 0x1E (impossible
    # for classic [a-zA-Z0-9_:] keys; pinned by the UTF-8 parity test).
    cols = set(parsed.columns)
    pairs = F.zip_with(
        "label_keys", "label_values", lambda k, v: F.concat_ws(KV_SEP, k, v)
    )
    sig = F.array_join(F.sort_array(pairs), PAIR_SEP)
    # name: positional array lookup — probing the freshly-built map costs
    # an extra interpreted pass (0.22 s vs 0.10 s / 4.5M samples);
    # nullif keeps a (parser-unreachable) missing __name__ a NULL name
    # instead of an ANSI zero-index error
    name = F.expr(
        "element_at(label_values, "
        "CAST(nullif(array_position(label_keys, '__name__'), 0) AS INT))"
    )
    labels = F.map_from_arrays("label_keys", "label_values")
    # JVM-fast-parsed rows carry sig/name/labels precomputed from the
    # canonicalized pair string (see _fast_parse_frame); NULL rows
    # (Python-parsed, other parsers) fall back to the array derivation —
    # coalesce is lazily evaluated in codegen, so fast rows never pay it
    if "sig" in cols:
        sig = F.coalesce(F.col("sig"), sig)
    if "name" in cols:
        name = F.coalesce(F.col("name"), name)
    if "labels" in cols:
        labels = F.coalesce(F.col("labels"), labels)
    return parsed.select(
        sig.alias("sig"),
        name.alias("name"),
        labels.alias("labels"),
        "t",
        "value",
        F.lit(False).alias("stale"),
    )


def parse_exposition_metadata(text: str) -> dict:
    """Extract family metadata from ``# TYPE`` / ``# HELP`` / ``# UNIT``
    comment lines (promparse.go Type/Help comment handling) —
    family → {"type", "help", "unit"}."""
    meta: dict[str, dict] = {}
    for line in text.split("\n"):
        line = line.strip()
        if not line.startswith("#"):
            continue
        parts = line.split(None, 3)
        if len(parts) < 3 or parts[1] not in ("TYPE", "HELP", "UNIT"):
            continue
        fam = parts[2]
        slot = meta.setdefault(
            fam, {"type": "unknown", "help": "", "unit": ""}
        )
        if parts[1] == "TYPE":
            slot["type"] = parts[3].strip() if len(parts) > 3 else "unknown"
        elif parts[1] == "HELP":
            slot["help"] = parts[3] if len(parts) > 3 else ""
        else:
            slot["unit"] = parts[3].strip() if len(parts) > 3 else ""
    return meta
