"""Text primitives:

1. **Spark SQL expressions** (JVM-side) — char n-grams and whitespace
   tokenization.
2. **The Gopher/C4 heuristic feature kernel** —
   :func:`py_quality_features_batch`, one vectorized pass per Arrow
   batch over the ``codepoints`` layout. It is the only production
   implementation: the serving UDF (pipeline/quality.make_fused_udf) and
   the oracle gates (:func:`with_quality_features`) both run it.
3. **Per-doc Python oracles** — :func:`py_quality_features` and its
   helpers, used by the pure-Python pipeline oracle; the kernel equals
   them bit-for-bit (tests/test_properties.py).

Semantics notes (pinned so Spark SQL, DuckDB oracle SQL, and Python agree):
- Whitespace class is the Java-default ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``
  (ASCII). The Python helpers use the same explicit class, NOT Python's
  Unicode-aware ``\\s``.
- ``strip`` follows the reference's pandas ``.str.strip()`` (Python
  ``str.strip()``: Unicode whitespace). Spark's ``trim`` only strips
  ``' '``, so normalization stays Python-side.
- Char n-grams replicate the reference padding ``'_'*(n-1) + text + '_'``
  (/root/reference/src/models/statistical_models.py:23,38).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.rules import default_stopwords
from .codepoints import (
    POLY, SCRIPT_UNIONS, SYMBOL, class_counts, class_unions, tile, windows,
)

JAVA_WS = "[ \\t\\n\\x0B\\f\\r]"
PY_WS_CLASS = "[ \t\n\x0b\f\r]"
_PY_WS_RE = re.compile(PY_WS_CLASS + "+")
# every ws-class char → ' ': translate + split(' ') + drop-empties is
# token-identical to re.split(ws+) and ~3× faster (all C string ops)
_WS_TO_SPACE = str.maketrans({c: " " for c in " \t\n\x0b\f\r"})
_SCRIPT_SYMBOL_UNIONS = {**SCRIPT_UNIONS, "n_symbol": (SYMBOL,)}


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM side)
# ---------------------------------------------------------------------------
def char_ngrams_sql(text_sql: str, n: int, reference_pad: bool = True) -> str:
    """SQL array of the character n-grams of ``text_sql`` with the
    reference's sentinel padding (use ``F.expr`` for a Column; the DuckDB
    oracles use their own equivalent expansion). Pure SQL, no Python
    worker involved.

    One ``split(text, '')`` pass materializes the char array; n≥2 builds
    grams by zip_with-concat of n shifted slices of it — every step is
    O(len·n) per doc. The previous form (sequence + transform + substring)
    re-seeked the string from index 0 per gram (UTF8String.substring is
    O(i) on multi-byte data), i.e. O(len²) per doc — measured 3-5× slower
    at web-page lengths for every n.
    """
    p = f"concat('{'_' * (n - 1)}', {text_sql}, '_')" if reference_pad else text_sql
    ch = f"split({p}, '')"
    if n == 1:
        g = ch
    else:
        g = f"slice({ch}, 1, size({ch}) - {n - 1})"
        for k in range(1, n):
            g = f"zip_with({g}, slice({ch}, {k + 1}, size({ch}) - {n - 1}), (a, b) -> concat(a, b))"
    if reference_pad:
        return g
    # split('', '') yields [''] and slice rejects a negative length:
    # guard the unpadded short case. The padded variant always carries
    # ≥ n sentinel chars.
    return f"CASE WHEN length({p}) < {n} THEN CAST(array() AS array<string>) ELSE {g} END"


def words(col: Column) -> Column:
    """Array of whitespace-delimited tokens; empty array for empty text."""
    return F.when(F.length(col) == 0, F.array().cast("array<string>")).otherwise(
        F.split(col, f"{JAVA_WS}+")
    )


# Gopher repetition rules (r5): which word-n-gram orders feed the
# top-n-gram coverage rule vs the duplicate-n-gram rule (Gopher §A1.1).
TOP_NGRAM_NS = (2, 3, 4)
DUP_NGRAM_NS = (5, 6, 7, 8, 9, 10)
REPETITION_KEYS = tuple(f"top_{n}gram_char_frac" for n in TOP_NGRAM_NS) + tuple(
    f"dup_{n}gram_char_frac" for n in DUP_NGRAM_NS
)

# Window of the char-level diversity ratio (the CJK-route repetition
# substitute — see pipeline/rules.py MIN_CJK_DISTINCT_CHAR_4GRAM_RATIO).
CHAR_DIVERSITY_N = 4

# Every heuristic feature :func:`py_quality_features_batch` returns, in
# order — the one declaration of the feature schema (the serving UDF's
# struct is the scores followed by these fields).
QUALITY_FEATURE_STRUCT = T.StructType(
    [
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("distinct_word_ratio", T.DoubleType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("bullet_line_ratio", T.DoubleType()),
        T.StructField("ellipsis_line_ratio", T.DoubleType()),
        T.StructField("dup_line_ratio", T.DoubleType()),
        T.StructField("n_cjk", T.IntegerType()),
        T.StructField("n_script_letters", T.IntegerType()),
        T.StructField("is_cjk", T.BooleanType()),
        T.StructField("distinct_char_4gram_ratio", T.DoubleType()),
    ]
    + [T.StructField(k, T.DoubleType()) for k in REPETITION_KEYS]
)


def with_quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """``df`` plus every :data:`QUALITY_FEATURE_STRUCT` column of the
    already-normalized ``text_col`` (NULL scores as empty), computed by
    :func:`py_quality_features_batch` — the kernel the serving UDF
    (pipeline/quality.make_fused_udf) runs — with the default stop-word
    lexicon. One Arrow UDF pass, narrow, no shuffle. The oracle gates
    call this, so they check the serving kernel itself."""

    @F.pandas_udf(QUALITY_FEATURE_STRUCT)
    def feats(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(py_quality_features_batch(texts.fillna("")))

    return df.withColumn("_qf", feats(F.col(text_col))).select(*df.columns, "_qf.*")


# Gopher-style line heuristics — pinned, no trimming, so the batch
# kernel, the per-doc oracle and the DuckDB oracle SQL evaluate
# byte-identical predicates.
BULLET_PREFIXES = ("- ", "* ", "•")  # '•' matches with or without space
ELLIPSIS_SUFFIXES = ("...", "…")


# ---------------------------------------------------------------------------
# Python equivalents (oracle + inside pandas UDFs)
# ---------------------------------------------------------------------------
def py_norm(s: str) -> str:
    return s.strip()


def py_words(s: str) -> list[str]:
    if not s:
        return []
    return [t for t in _PY_WS_RE.split(s) if t]


def _py_line_feats(norm: str) -> tuple[int, int, int, int]:
    """(n_lines, n_bullet, n_ellipsis, n_dup) with the pinned no-trim
    predicates (:data:`BULLET_PREFIXES` / :data:`ELLIPSIS_SUFFIXES`)."""
    lines = norm.split("\n")
    n_bullet = sum(1 for l in lines if l.startswith(BULLET_PREFIXES))
    n_ellipsis = sum(1 for l in lines if l.endswith(ELLIPSIS_SUFFIXES))
    return len(lines), n_bullet, n_ellipsis, len(lines) - len(set(lines))


def py_quality_features_batch(norm_series, stopwords: tuple[str, ...] | None = None) -> dict[str, list]:
    """Vectorized batch twin of :func:`py_quality_features` — same integer
    counts, same divisions, so every float is bit-identical to the
    per-doc oracle path. The one production implementation of these
    features: the fused serving UDF and :func:`with_quality_features`
    both call it.

    Batch form, measured against alternatives at web-doc lengths: char
    counts are a vectorized pandas str op, script and symbol counts one
    ``codepoints.class_counts``; tokenization keeps a per-row loop — word
    identity (the ``set()``) is irreducibly per-doc — but via
    ``str.translate`` + ``str.split(' ')`` (all C calls; maximal non-ws
    runs are identical to the ``\\s+`` regex split after mapping
    every ws-class char to ``' '`` and dropping empties), which measured
    ~1.7× faster than both the triple-regex per-doc form it replaces AND a
    fully-pandas ``str.split(regex)`` + explode + groupby-nunique form.
    Integer counts divided identically ⇒ bit-equal floats.
    """
    stopset = frozenset(stopwords if stopwords is not None else default_stopwords())
    s = pd.Series(norm_series).reset_index(drop=True)
    n = len(s)
    if n == 0:
        return {k: [] for k in QUALITY_FEATURE_STRUCT.fieldNames()}
    n_chars = s.str.len().to_numpy(dtype=np.int64)
    sc = batch_script_symbol_counts(s.tolist())
    sym_cnt = sc["n_symbol"]
    n_cjk = sc["n_cjk"]
    n_scripts = sum(sc[k] for k in SCRIPT_UNIONS)
    char_div = np.empty(n, dtype=np.float64)
    n_words = np.empty(n, dtype=np.int64)
    distinct = np.empty(n, dtype=np.int64)
    toklen = np.empty(n, dtype=np.int64)
    stop_cnt = np.empty(n, dtype=np.int64)
    n_lines = np.empty(n, dtype=np.int64)
    bullet = np.empty(n, dtype=np.int64)
    ellipsis = np.empty(n, dtype=np.int64)
    dup = np.empty(n, dtype=np.int64)
    toks_list = []
    for i, x in enumerate(s):
        toks = [w for w in x.translate(_WS_TO_SPACE).split(" ") if w]
        toks_list.append(toks)
        n_words[i] = len(toks)
        distinct[i] = len(set(toks))
        toklen[i] = sum(map(len, toks))
        stop_cnt[i] = sum(1 for t in toks if t in stopset)
        n_lines[i], bullet[i], ellipsis[i], dup[i] = _py_line_feats(x)
        # cjk-guarded like the oracle (1.0 = the rule that consumes this
        # can never consult it for this doc); the unguarded per-doc set
        # build measured ~1.5× slower serving on a mostly-latin corpus
        char_div[i] = (
            py_distinct_char_ngram_ratio(x)
            if n_cjk[i] * 2 > n_scripts[i]
            else 1.0
        )
    # r7: one vectorized pass for the 9 repetition fractions (was a
    # Counter loop per doc per order — 73% of this function's measured
    # cost); value-identical by the batch_repetition_features pin.
    rep = batch_repetition_features(toks_list, n_chars)
    safe = np.maximum(n_words, 1).astype(np.float64)
    has = n_words > 0
    mean_wl = np.where(has, toklen / safe, 0.0)
    sym_ratio = np.where(has, sym_cnt / safe, 0.0)
    dw_ratio = np.where(has, distinct / safe, 0.0)
    stop_ratio = np.where(has, stop_cnt / safe, 0.0)
    nl = n_lines.astype(np.float64)  # ≥ 1 always
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": sym_ratio,
        "distinct_word_ratio": dw_ratio,
        "stopword_ratio": stop_ratio,
        "bullet_line_ratio": bullet / nl,
        "ellipsis_line_ratio": ellipsis / nl,
        "dup_line_ratio": dup / nl,
        "n_cjk": n_cjk,
        "n_script_letters": n_scripts,
        "is_cjk": n_cjk * 2 > n_scripts,
        "distinct_char_4gram_ratio": char_div,
        **rep,
    }


def py_distinct_char_ngram_ratio(s: str, n: int = CHAR_DIVERSITY_N) -> float:
    """distinct char n-gram windows / total windows; 1.0 below n chars
    (exact ints, one division).

    Implementation measured, not assumed: a numpy stride-tricks +
    np.unique-over-record-views variant (the winnowing pattern) ran
    5.7× SLOWER than this plain slice-into-set at 1000-char docs —
    np.unique's structured-dtype sort is generic-comparison, not
    vectorized — so the set stays; exact distinct counting has no
    hash shortcut (collisions would change the count)."""
    total = len(s) - n + 1
    if total <= 0:
        return 1.0
    return len({s[i : i + n] for i in range(total)}) / total


def py_script_features(norm: str) -> dict:
    """Per-doc form of the kernel's script-routing fields, plus its symbol
    count: the unions of one ``class_counts`` row."""
    sc = {k: int(v[0]) for k, v in batch_script_symbol_counts([norm]).items()}
    total = sum(sc[k] for k in SCRIPT_UNIONS)
    return {
        "n_cjk": sc["n_cjk"],
        "n_script_letters": total,
        "is_cjk": sc["n_cjk"] * 2 > total,
        "n_symbol": sc["n_symbol"],
    }


def py_quality_features(norm: str, stopwords: tuple[str, ...] | None = None) -> dict[str, float]:
    stopset = frozenset(stopwords if stopwords is not None else default_stopwords())
    ws = py_words(norm)
    n_words = len(ws)
    n_chars = len(norm)
    mean_wl = (sum(len(t) for t in ws) / n_words) if n_words else 0.0
    n_stop = sum(1 for t in ws if t in stopset)
    n_lines, n_bullet, n_ellipsis, n_dup = _py_line_feats(norm)
    sf = py_script_features(norm)
    sym = sf.pop("n_symbol")
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": (sym / n_words) if n_words else 0.0,
        "distinct_word_ratio": (len(set(ws)) / n_words) if n_words else 0.0,
        "stopword_ratio": (n_stop / n_words) if n_words else 0.0,
        "bullet_line_ratio": n_bullet / n_lines,
        "ellipsis_line_ratio": n_ellipsis / n_lines,
        "dup_line_ratio": n_dup / n_lines,
        **sf,
        "distinct_char_4gram_ratio": (
            py_distinct_char_ngram_ratio(norm) if sf["is_cjk"] else 1.0
        ),
        **py_repetition_features(ws, n_chars),
    }


def py_repetition_features(toks: list[str], n_chars: int) -> dict[str, float]:
    """Gopher §A1.1 repetition features of an already-tokenized doc:
    ``top_{2,3,4}gram_char_frac`` (chars covered by the most frequent
    word n-gram / total chars; 0 unless it occurs ≥ 2 times) and
    ``dup_{5..10}gram_char_frac`` (chars in word n-grams occurring ≥ 2
    times / total chars), each capped at 1.0 (overlapping occurrences can
    cover more than n_chars). The per-doc oracle of
    :func:`batch_repetition_features`: same integer counts, same single
    division, same 1.0 cap and same cnt≥2 pin ⇒ bit-identical floats.

    Monotonicity early-exit (r5 serving-cost fix, measured 1.8× on the
    fixture corpus, bit-identical by construction): two equal n-gram
    windows start at two distinct positions, so their (n-1)-prefixes are
    equal windows at those same positions — max window count is
    non-increasing in n. Orders run ascending (2..10) and once NO window
    repeats at some order, every higher order's feature is exactly 0.0
    without building its grams (typical prose dies at order ~3; fully
    repetitive spam still pays all 9 passes, the unavoidable case)."""
    from collections import Counter

    out: dict[str, float] = {}
    if not toks or not n_chars:
        for nn in TOP_NGRAM_NS:
            out[f"top_{nn}gram_char_frac"] = 0.0
        for nn in DUP_NGRAM_NS:
            out[f"dup_{nn}gram_char_frac"] = 0.0
        return out
    join = " ".join
    dead = False  # no window repeated at the previous order
    for nn in sorted(TOP_NGRAM_NS + DUP_NGRAM_NS):
        key = (
            f"top_{nn}gram_char_frac"
            if nn in TOP_NGRAM_NS
            else f"dup_{nn}gram_char_frac"
        )
        if dead or len(toks) < nn:
            out[key] = 0.0
            continue
        counts = Counter(
            join(toks[i : i + nn]) for i in range(len(toks) - nn + 1)
        )
        if nn in TOP_NGRAM_NS:
            cnt, glen = max(
                ((v, len(g)) for g, v in counts.items()), key=lambda t: (t[0], t[1])
            )
            out[key] = min(cnt * glen / n_chars, 1.0) if cnt >= 2 else 0.0
            if cnt < 2:
                dead = True
        else:
            dup = sum(v * len(g) for g, v in counts.items() if v >= 2)
            out[key] = min(dup / n_chars, 1.0)
            if dup == 0:
                dead = True
    return out


def batch_script_symbol_counts(texts) -> dict[str, np.ndarray]:
    """Per-doc counts of the four script unions (``codepoints.SCRIPT_UNIONS``)
    and the symbol class, from one ``codepoints.class_counts`` over one
    ``tile`` buffer. Pinned against literal regex classes by
    tests/test_misc_ops.py::test_batch_script_counts_match_regex."""
    cp, _, lens = tile(texts)
    return class_unions(class_counts(cp, lens), _SCRIPT_SYMBOL_UNIONS)


def batch_repetition_features(
    toks_list: list[list[str]], n_chars
) -> dict[str, "np.ndarray"]:
    """Whole-batch vectorized twin of :func:`py_repetition_features`
    (r7 serving path): per-word FNV hashes + per-order run-length
    counting over one lexsorted (doc, window-hash) array, instead of a
    Python ``Counter`` per (doc, order).

    Value-identical to the per-doc form (pinned by
    tests/test_misc_ops.py::test_batch_repetition_matches_per_doc): all
    counts and char lengths are exact integers (< 2^53, so the float64
    segment sums are exact regardless of order), the single division and
    the 1.0 cap are the same ops, the top-gram tie-break (max count,
    then max char length) is encoded in one integer score, and the
    ascending-order early-exit ("no window repeats at order k ⇒ all
    higher orders are exactly 0") is applied per doc via an alive mask.
    Window identity is the 64-bit word-hash polynomial — a within-doc
    collision (~10³ windows vs 2^64) is the dedup family's accepted
    transport risk."""
    from .wordhash import fnv_token_hashes

    n_docs = len(toks_list)
    out = {k: np.zeros(n_docs, dtype=np.float64) for k in REPETITION_KEYS}
    nc = np.asarray(n_chars, dtype=np.int64)
    ntoks = np.fromiter((len(t) for t in toks_list), dtype=np.int64, count=n_docs)
    all_toks: list[str] = []
    for t in toks_list:
        all_toks.extend(t)
    if not all_toks:
        return out
    wlen = np.fromiter(map(len, all_toks), dtype=np.int64, count=len(all_toks))
    wh = fnv_token_hashes(all_toks)
    tok_start = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(ntoks[:-1], out=tok_start[1:])
    # cumlen[i] = chars of tokens before global index i (per doc resets
    # handled by subtracting window-start cumlen)
    cumlen = np.concatenate([[0], np.cumsum(wlen)])
    alive = (ntoks > 0) & (nc > 0)
    for nn in sorted(TOP_NGRAM_NS + DUP_NGRAM_NS):
        key = (
            f"top_{nn}gram_char_frac" if nn in TOP_NGRAM_NS else f"dup_{nn}gram_char_frac"
        )
        has_win = alive & (ntoks >= nn)
        if not has_win.any():
            continue
        # base = global token index of each window's first word
        base, counts, _ = windows(tok_start, np.where(has_win, ntoks, 0), nn)
        total = len(base)
        with np.errstate(over="ignore"):
            g = wh[base].copy()
            for j in range(1, nn):
                g = g * POLY + wh[base + j]
        wdoc = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
        glen = (cumlen[base + nn] - cumlen[base]) + (nn - 1)
        order = np.lexsort((g, wdoc))
        gs, ds, ls = g[order], wdoc[order], glen[order]
        new = np.empty(total, dtype=bool)
        new[0] = True
        np.not_equal(gs[1:], gs[:-1], out=new[1:])
        new[1:] |= ds[1:] != ds[:-1]
        run_cnt = np.diff(np.concatenate([np.flatnonzero(new), [total]]))
        run_doc = ds[new]
        run_len = ls[new]
        if nn in TOP_NGRAM_NS:
            # per-doc max of (cnt, len) as one int score; len < 2^31
            score = run_cnt.astype(np.int64) * (1 << 31) + run_len
            best = np.zeros(n_docs, dtype=np.int64)
            np.maximum.at(best, run_doc, score)
            cnt = best >> 31
            glen_b = best & ((1 << 31) - 1)
            ok = has_win & (cnt >= 2)
            val = np.minimum(
                (cnt * glen_b).astype(np.float64) / np.maximum(nc, 1), 1.0
            )
            out[key][ok] = val[ok]
            alive &= cnt >= 2
        else:
            m = run_cnt >= 2
            dup = np.bincount(
                run_doc[m],
                weights=(run_cnt[m] * run_len[m]).astype(np.float64),
                minlength=n_docs,
            )
            ok = has_win & (dup > 0)
            val = np.minimum(dup / np.maximum(nc, 1), 1.0)
            out[key][ok] = val[ok]
            alive &= dup > 0
    return out


def py_char_ngrams(text: str, n: int, reference_pad: bool = True) -> list[str]:
    t = ("_" * (n - 1) + text + "_") if reference_pad else text
    return [t[i : i + n] for i in range(len(t) - n + 1)]


# Sentence boundary in the Java ∩ RE2 dialect (no lookbehind, which RE2
# lacks): a sentence is a maximal run of non-terminators plus its
# trailing terminator run. Both engines extract the SAME spans with
# regexp_extract_all, so the gate is byte-exact.
SENTENCE_RE = "[^.!?]+[.!?]*"


def sentences(col: Column) -> Column:
    """ARRAY<STRING> of sentences: regexp-extracted terminator-delimited
    spans, space-trimmed, empties dropped. A pinned lightweight splitter
    (the pre-chunking step for RAG/packing pipelines that want sentence
    alignment rather than fixed token strides) — NOT a linguistic
    segmenter: abbreviations ("e.g.") split, by design, identically in
    both engines. Pure codegen (one regexp pass + array HOFs), fuses
    into the scan."""
    return F.filter(
        F.transform(
            F.regexp_extract_all(col, F.lit(SENTENCE_RE), F.lit(0)),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
