"""Text-analysis columns for training-data pipelines (net-new, task brief):
language-ID heuristic, quality scoring, token counting, fingerprinting.

Mostly native Spark SQL (whole-stage codegen), each with an exact DuckDB
twin in ``__spark_entry__.oracle_sql``; the cross-engine semantics below
were probed empirically:
- ``split(text,'')``  == DuckDB ``string_split(text,'')`` (per-char, no
  trailing empty)
- ``ascii(c)``        == codepoint in both engines
- ``regexp_count``    == ``length(regexp_extract_all(...))``
- integer arithmetic identical ⇒ the rolling-hash fingerprint matches
  bit-for-bit.

Three are Arrow UDFs (``doc_fingerprint``, the quality score,
``winnow_fingerprints``) that read their codepoints through ``codepoints``,
fold with its ``mod_step`` and count with its ``class_counts``; the
script regex classes are rendered from its class table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .codepoints import FOLD_MOD as FINGERPRINT_MOD
from .codepoints import (
    CJK, CYR_CORE, GREEK_CORE, LATIN, LATIN1, SCRIPT_UNIONS, SPACE, SYMBOL,
    char_class, class_counts, class_unions, encode, fold, mod_step, tile,
)

# BPE-ish tokenizer: letter runs | digit runs | single non-alnum non-space.
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"
# quality_score's counts ("alpha" = A-Za-z, Latin-1 and the script cores)
_QUALITY_UNIONS = {
    "n_alpha": (LATIN, LATIN1, CYR_CORE, GREEK_CORE, CJK),
    "n_space": (SPACE,),
    "n_symbol": (SYMBOL,),
}


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(col) == 0, F.lit(0)).otherwise(
        F.size(F.split(col, "[ \\t\\n]+"))
    )


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count (letter runs / digit runs / single symbols)."""
    return F.regexp_count(col, F.lit(BPE_REGEX))


def doc_fingerprint(col: Column) -> Column:
    """Deterministic rolling-hash fingerprint: fold (acc*31 + codepoint)
    mod 1e9+7 over the characters. Same value in DuckDB via list_reduce.

    r7: one ``codepoints.fold`` per Arrow batch — the SQL ``aggregate``
    HOF evaluated an interpreted lambda per character. NULL text stays
    NULL, in the DuckDB twin too. Non-deterministic mark per guide §4.4
    (pure function; prevents filter-pushdown double evaluation)."""
    @F.pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        cp, starts, lens = tile(texts)
        res = pd.Series(fold(cp, starts, lens, np.int64(0), mod_step))
        res[texts.isna().to_numpy()] = None
        return res

    return fp.asNondeterministic()(col)


def script_counts(col: Column) -> dict[str, Column]:
    """The four script letter counts, one JVM ``regexp_count`` per
    ``codepoints.SCRIPT_UNIONS`` class string."""
    return {
        k: F.regexp_count(col, F.lit(char_class(v))) for k, v in SCRIPT_UNIONS.items()
    }


def lang_guess_script(col: Column) -> Column:
    """Cheap script-based language bucket — the SQL-only langid heuristic
    (the statistical models are the real classifiers; this is the
    pre-filter you'd run before them at 100 TB)."""
    sc = script_counts(col)
    n = F.greatest(F.length(col), F.lit(1))
    return (
        F.when(sc["n_cjk"] * 100 / n > 10, F.lit("cjk"))
        .when(sc["n_cyrillic"] * 100 / n > 30, F.lit("cyrillic"))
        .when(sc["n_greek"] * 100 / n > 30, F.lit("greek"))
        .when(sc["n_latin"] * 100 / n > 30, F.lit("latin"))
        .otherwise(F.lit("other"))
    )


def _quality_score_udf():
    """The unclamped [0,1] quality score per doc from the ``_QUALITY_UNIONS``
    of one ``codepoints.class_counts`` per Arrow batch (r7): the
    regexp_count form paid three Java-regex sweeps per evaluation, and
    the percentile gates evaluate the score twice (threshold agg + the
    broadcast-join CASE). The ratios are the float64 operations of the
    JVM form in its order, so the score is the same double. The result is
    a scalar because Spark evaluates a struct-returning UDF once per field
    read. Pinned against literal regex classes by
    tests/test_misc_ops.py::test_quality_score_udf_matches_regex.
    Non-deterministic mark: pushed-down filters must not duplicate the
    evaluation (guide §4.4); the function is pure."""

    @F.pandas_udf("double")
    def raw_score(texts: pd.Series) -> pd.Series:
        cp, _, lens = tile(texts)
        c = class_unions(class_counts(cp, lens), _QUALITY_UNIONS)
        n = np.maximum(lens, 1).astype(np.float64)
        alpha_ratio = c["n_alpha"] / n
        space_ratio = c["n_space"] / n
        symbol_ratio = c["n_symbol"] / n
        return pd.Series(
            alpha_ratio * 0.6
            + np.minimum(space_ratio * 4, 1.0) * 0.3
            + (1 - np.minimum(symbol_ratio * 10, 1.0)) * 0.1
        )

    return raw_score.asNondeterministic()


def quality_score(col: Column) -> Column:
    """[0,1] heuristic quality score: alpha-char ratio, word-shape, and
    punctuation balance, computed in one vectorized Arrow pass (r7 —
    see :func:`_quality_score_udf`); the clamp and the HALF_UP round stay
    JVM expressions, so every emitted double equals the previous
    all-regexp form's."""
    score = _quality_score_udf()(col)
    out = F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)
    # NULL text: the regexp_count form's null ratios fall through the
    # null-IGNORING least/greatest pair to exactly 1.0 — replicated
    return F.when(col.isNotNull(), out).otherwise(F.lit(1.0))


def script_mixing(col: Column) -> dict[str, Column]:
    """Per-doc script-mixing profile — the mixed-script spam signal
    (keyword-stuffed / homoglyph-obfuscated pages mix scripts; genuine
    prose is script-dominant). Columns: the four script letter counts,
    their total, the dominant script (ties broken in the fixed order
    latin > cjk > cyrillic > greek — the SAME CASE order as the DuckDB
    twin so the argmax cannot drift), its fraction (round 6; 0.0 for
    scriptless docs, dominant 'none'), and ``is_mixed`` = letters exist
    but the dominant script holds < 90 %.

    All native ``regexp_count`` — one codegen pass, no shuffle, fuses
    into the scan like the other quality columns."""
    sc = script_counts(col)
    n_latin, n_cjk = sc["n_latin"], sc["n_cjk"]
    n_cyr, n_greek = sc["n_cyrillic"], sc["n_greek"]
    mx = F.greatest(n_latin, n_cjk, n_cyr, n_greek)
    dominant = (
        F.when(mx == 0, F.lit("none"))
        .when(n_latin == mx, F.lit("latin"))
        .when(n_cjk == mx, F.lit("cjk"))
        .when(n_cyr == mx, F.lit("cyrillic"))
        .otherwise(F.lit("greek"))
    )
    frac = F.when(mx == 0, F.lit(0.0)).otherwise(
        F.round(mx.cast("double") / (n_latin + n_cjk + n_cyr + n_greek), 6)
    )
    return {
        "n_latin": n_latin,
        "n_cjk": n_cjk,
        "n_cyrillic": n_cyr,
        "n_greek": n_greek,
        "n_script_total": n_latin + n_cjk + n_cyr + n_greek,
        "dominant_script": dominant,
        "dominant_frac": frac,
        "is_mixed": (mx > 0) & (mx * 10 < (n_latin + n_cjk + n_cyr + n_greek) * 9),
    }


# Winnowing (Schleimer et al. 2003, the MOSS fingerprinting scheme):
# positions are packed under the hash so one BIGINT min per window picks
# (min hash, then RIGHTMOST position — the paper's density rule) with
# pure integer arithmetic both engines share. h < 1e9+7 and pos < 2^31,
# so h*2^31 + offset stays far inside BIGINT.
WINNOW_POS_SHIFT = 1 << 31


def winnow_fingerprints(col: Column, k: int = 5, w: int = 4) -> Column:
    """ARRAY<STRUCT<pos, fp>> — winnowing document fingerprints: the
    rolling k-gram hash minimum of every w-window, deduplicated. The
    local-fingerprint guarantee: any shared substring of length
    >= w+k-1 between two documents yields at least one IDENTICAL
    (pos-relative fp) selection in both, so matching fingerprints
    localize copied spans (doc_fingerprint's whole-doc hash can only
    say "same doc").

    Vectorized Arrow-batched numpy (the simhash/minhash-signature
    pattern): codepoints via ``codepoints.encode``, the k-gram rolling
    hash as k whole-array Horner rounds over shifted views, window
    minima via a stride-tricks sliding view — O(n·(k+1)) C-speed ops
    per doc, no per-char Python. The first cut was "zero-Python"
    Catalyst HOFs (nested transform/aggregate/slice); being
    INTERPRETED expression trees they measured ~1200x slower at bench
    scale (3656 s for the sf0.1 gate slice vs ~3 s for this form) —
    HOFs do not reach whole-stage codegen, so "native" is not "fast"
    for per-character work. Still zero shuffle; fuses into any scan.

    Hash/tie semantics are unchanged and cross-engine: (acc*31+cp) mod
    1e9+7 (as in doc_fingerprint), per-window min with the paper's
    rightmost tie-break via pos-packed encodes (h*2^31 + (2^31-1-pos);
    int64-exact). The FULL ``winnowing`` gate's DuckDB twin recomputes
    the identical integer pipeline in list ops. Docs shorter than k
    fingerprint to []; docs with fewer than w k-grams yield the single
    global minimum (one window)."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    shift = np.int64(WINNOW_POS_SHIFT)

    @F.pandas_udf("array<struct<pos:bigint,fp:bigint>>")
    def wf(texts: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
                continue
            cp = encode(t)
            m = len(cp) - k + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):
                h = mod_step(h, cp[j : j + m])
            enc = h * shift + (shift - 1 - np.arange(m, dtype=np.int64))
            if m <= w:
                sel = enc.min(keepdims=True)
            else:
                sel = np.unique(sliding_window_view(enc, w).min(axis=1))
            pos = (shift - 1 - (sel % shift)).tolist()
            fp = (sel >> np.int64(31)).tolist()
            out.append(
                [{"pos": int(p_), "fp": int(f_)} for p_, f_ in zip(pos, fp)]
            )
        return pd.Series(out)

    return wf(col)
