"""Vectorized char-n-gram counting (r7 optimization).

The model trainers and n-gram gates all share one shape: explode char
n-grams → groupBy(key, ngram) → count. The explode side built gram
arrays with the ``char_ngrams_sql`` zip_with chain — a CodegenFallback
expression that re-evaluates its ``split`` child per slice and runs
interpreted per element — and then hash-aggregated one row per gram
occurrence (~15M rows at sf1.0 for bigrams).

This module computes PARTIAL counts per Arrow batch instead (guide
§2.3 "aggregate before you shuffle" + §4.2 "vectorized native work"):
codepoints of the whole batch tile one buffer, each n-gram window packs
into one uint64 key (21 bits per codepoint, n ≤ 3), ``np.unique``
counts a batch-group in one C pass, and only (key, gram, cnt) partial
rows reach the JVM — thousands per batch instead of millions. The
final ``groupBy(...).sum("cnt")`` makes totals EXACTLY equal to the
explode form (integer counts, any grouping), so trained probabilities
are bit-identical.

Case folding (``lower=True``) is Python ``str.lower``, the reference's
``text.lower()``: ``fold_case`` lowers each text on its own, inside the
Arrow batch, before padding and before the batch is joined into one
buffer (final sigma depends on the letters around it, and 'İ' lowers to
two codepoints, so lengths are taken after lowering). Spark's ``lower()``
is not used: its first call in a JVM sets up ICU case mapping (1.5–2.5 s),
and its Unicode version is newer than CPython's, so a few recent
codepoints (U+A7CB, U+10D50, …) fold differently from the reference.

Texts are tiled, windowed, encoded and decoded by ``codepoints`` (one
buffer per group, windows never crossing a text). Gram strings are
decoded from the packed keys — lossless for any Unicode codepoint
(< 2^21), so output grams equal the oracle's ``string_split``-by-
codepoint semantics, a lone surrogate included.

The Cavnar–Trenkle rank profile (``rank_profile``, the twin of the
oracle's ``ct_profile``) counts 1..5-gram windows, too wide for one
21-bit-per-codepoint key. Each codepoint maps to its dense alphabet
index + 1 (0 = "no character", so a shorter gram sorts before its
extensions) and each window packs into TWO uint64 words — the first
≤ 2 characters and the remaining ≤ 3, 21 bits each — exact for any
alphabet. One lexsort over the word pairs counts every window and
leaves the distinct grams in the oracle's string order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codepoints import decode, encode, tile, windows

_SHIFT = 21  # bits per codepoint; max codepoint 0x10FFFF < 2^21
_MASK = np.uint64((1 << _SHIFT) - 1)
_S1, _S2 = np.uint64(_SHIFT), np.uint64(2 * _SHIFT)


def pack_window_keys(texts: list[str], n: int, pad: bool) -> np.ndarray:
    """uint64 keys of every n-gram window of every text (duplicates
    preserved), windows never crossing text boundaries. ``pad=True``
    applies the reference sentinel convention ``'_'*(n-1) + t + '_'``;
    with ``pad=False`` texts shorter than n contribute nothing."""
    cp, starts, lens = tile(texts, "_" * (n - 1), "_") if pad else tile(texts)
    idx, _, _ = windows(starts, lens, n)
    if len(idx) == 0:
        return np.empty(0, dtype=np.uint64)
    cp = cp.astype(np.uint64)
    W = len(cp) - n + 1
    key = cp[:W].copy()
    for j in range(1, n):
        key = (key << _S1) | cp[j : j + W]
    return key[idx]


def decode_keys(keys: np.ndarray, n: int) -> list[str]:
    """Packed uint64 keys → n-char gram strings, one decode for the whole
    (distinct) key set."""
    u = len(keys)
    if u == 0:
        return []
    mat = np.empty((u, n), dtype=np.uint32)
    for j in range(n):
        mat[:, n - 1 - j] = (keys >> np.uint64(j * _SHIFT)) & _MASK
    text = decode(mat)
    return [text[i * n : (i + 1) * n] for i in range(u)]


def grouped_gram_counts(texts: list[str], n: int, pad: bool) -> tuple[list[str], np.ndarray]:
    """(grams, counts) of one group of texts — np.unique over the packed
    window keys."""
    keys = pack_window_keys(texts, n, pad)
    if len(keys) == 0:
        return [], np.empty(0, dtype=np.int64)
    vals, cnts = np.unique(keys, return_counts=True)
    return decode_keys(vals, n), cnts.astype(np.int64)


def rank_profile(text: str, max_size: int = 400) -> list[tuple[str, int]]:
    """Ordered 1..5-gram profile, equal to ``oracle.reference.ct_profile``:
    windows of ``'_'*(n-1) + text.lower() + '_'*(n-1)`` for n = 1..5,
    sorted by (-count, gram), first ``max_size`` kept."""
    low = text.lower()  # Python case folding, as the oracle
    cp = encode("____" + low + "____")
    alpha, inv = np.unique(cp, return_inverse=True)
    d = inv.astype(np.uint64) + np.uint64(1)
    # every n's padded windows are the windows of the 4-padded string
    # starting at 5-n .. L+3; absent trailing digits stay 0
    L = len(low)
    w1, w2 = [], []
    for n in range(1, 6):
        idx = np.arange(5 - n, L + 4)
        none = np.zeros(len(idx), dtype=np.uint64)
        digit = [d[idx + j] if j < n else none for j in range(5)]
        w1.append((digit[0] << _S1) | digit[1])
        w2.append((digit[2] << _S2) | (digit[3] << _S1) | digit[4])
    w1, w2 = np.concatenate(w1), np.concatenate(w2)
    order = np.lexsort((w2, w1))
    w1, w2 = w1[order], w2[order]
    new = np.ones(len(w1), dtype=bool)
    new[1:] = (w1[1:] != w1[:-1]) | (w2[1:] != w2[:-1])
    first = np.flatnonzero(new)
    cnt = np.diff(np.append(first, len(w1)))
    w1, w2 = w1[first], w2[first]
    if 0 < max_size < len(cnt):
        keep = cnt >= np.partition(cnt, len(cnt) - max_size)[len(cnt) - max_size]
        w1, w2, cnt = w1[keep], w2[keep], cnt[keep]
    # distinct grams are in string order; a stable sort on -count gives
    # the oracle's (-count, gram) order
    top = np.argsort(-cnt, kind="stable")
    w1, w2, cnt = w1[top], w2[top], cnt[top]
    digits = np.stack(
        [w1 >> _S1, w1 & _MASK, w2 >> _S2, (w2 >> _S1) & _MASK, w2 & _MASK], axis=1
    ).astype(np.int64)
    lens = (digits > 0).sum(axis=1)
    flat = decode(alpha[np.maximum(digits - 1, 0)])
    grams = [flat[5 * i : 5 * i + k] for i, k in enumerate(lens.tolist())]
    return list(zip(grams, cnt.tolist()))[:max_size]


def fold_case(texts: pd.Series) -> pd.Series:
    """Python ``str.lower`` of each (non-NULL) text, index kept.

    Per element, not ``Series.str.lower()``: on an Arrow-backed
    (``string[pyarrow]``) series pandas lowers with utf8proc's simple
    mapping, which loses final sigma ("ΟΔΟΣ" → "οδοσ") and the two-
    codepoint 'İ' → "i̇"."""
    return pd.Series([t.lower() for t in texts], index=texts.index, dtype=object)


def keyed_texts(pdf: pd.DataFrame, text_col: str, key_col: str | None, lower: bool):
    """(key, texts) groups of one Arrow batch — one group with key
    ``None`` when ``key_col`` is None. NULL text is dropped (it
    contributes no gram, as ``explode(char_ngrams_sql(NULL))`` dropped the
    row; empty text keeps its sentinel grams) and, with ``lower``, every
    text is case-folded by ``fold_case``."""
    texts = pdf[text_col]
    mask = texts.notna()
    texts = texts[mask]
    if lower:
        texts = fold_case(texts)
    if key_col is None:
        yield None, texts.tolist()
        return
    for key, grp in texts.groupby(pdf[key_col].to_numpy()[mask.to_numpy()]):
        yield key, grp.tolist()


def char_ngram_counts(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    key_col: str | None = None,
    lower: bool = False,
    pad: bool = True,
    gram_col: str = "ngram",
) -> DataFrame:
    """(key_col?, gram_col, cnt) exact char-n-gram occurrence counts —
    the drop-in replacement for ``explode(char_ngrams_sql(...)) → groupBy →
    count()``. Partial counts per (batch, key) via numpy, one map-side-
    combinable ``sum`` shuffle. n ≤ 3 (the packed-key domain).

    ``lower=True`` folds case with Python ``str.lower``, per text, before
    padding (``fold_case``) — the reference's folding, not Spark's."""
    if n > 3:
        raise ValueError("char_ngram_counts packs codepoints 21 bits each; n must be <= 3")
    src = df.select(*([key_col] if key_col else []), text_col)
    out_schema = (
        (f"`{key_col}` string, " if key_col else "") + f"`{gram_col}` string, cnt long"
    )

    def partial(pdfs):
        for pdf in pdfs:
            for key, texts in keyed_texts(pdf, text_col, key_col, lower):
                grams, cnts = grouped_gram_counts(texts, n, pad)
                if grams:
                    out = {gram_col: grams, "cnt": cnts}
                    yield pd.DataFrame({key_col: key, **out} if key_col else out)

    partials = src.mapInPandas(partial, schema=out_schema)
    keys = ([key_col] if key_col else []) + [gram_col]
    return partials.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))

