"""Vectorized 64-bit word-n-gram hashing (r7 optimization).

Several operators (span dedup, decontamination) need, per document, the
sequence of 64-bit hashes of its k-word windows. The hash is an
ENGINE-SIDE TRANSPORT CHOICE — the DuckDB oracles recompute windows on
gram STRINGS, so any deterministic injective-in-practice 64-bit function
works, as long as every pass of one query uses the same one.

The previous form built gram STRING arrays with a ``zip_with``-over-
shifted-slices chain and hashed them with ``xxhash64``. Higher-order
functions are CodegenFallback expressions: every ``slice`` re-evaluates
its ``split`` child per row, and every lambda runs interpreted per
element — measured 6.7 s for one k=4 pass over the sf1.0 corpus, the
single largest cost in ``span_dedup``. This module computes the same
shape (one ``array<long>`` of window hashes per doc) in ONE numpy pass
per Arrow batch (guide §4.2): the layout, the per-word FNV-1a fold, the
window gather and the hash primitives come from ``codepoints``; window
hashes are a polynomial combine of word hashes with an fmix64 finalizer.
Measured 2.7 s for the same pass (2.5×), with no JVM↔Python payload
beyond the text in and 8-byte hashes out.

Tokenization replicates ``functions.text.words`` (Spark ``split`` =
``Pattern.split(str, -1)``): leading AND trailing empty tokens kept,
empty text → no tokens — so window positions line up exactly with
JVM-side ``words()`` arrays (the rebuild consumer). Pinned by
tests/test_misc_ops.py::test_wordhash_tokens_match_spark_words.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .codepoints import FNV_OFFSET, POLY, fmix64, fnv1a_step, fold, tile, windows

_WS_RE = re.compile("[ \t\n\x0b\f\r]+")


def java_ws_tokens(t) -> list[str]:
    """Twin of ``functions.text.words``: Spark's ``split`` calls
    ``Pattern.split(str, -1)``, which KEEPS leading and trailing empty
    tokens ('a b ' → ['a','b','']) — exactly Python ``re.split``.
    Empty text → [] (the ``words()`` length-0 guard)."""
    if not isinstance(t, str) or not t:
        return []
    return _WS_RE.split(t)


def fnv_token_hashes(all_toks: list[str]) -> np.ndarray:
    """uint64 FNV-1a over codepoints, one hash per token — one
    ``codepoints.fold`` over the tiled tokens."""
    cp, starts, lens = tile(all_toks)
    return fold(cp, starts, lens, FNV_OFFSET, fnv1a_step)


def batch_word_gram_hashes(texts, k: int) -> list[np.ndarray]:
    """One int64 array of k-word-window hashes per text, windows in
    document order (index = 0-based window start). Docs with < k words
    get an empty array. Whole-batch vectorized; the only per-document
    Python is the regex tokenization."""
    n = len(texts)
    docs_ntoks = np.zeros(n, dtype=np.int64)
    all_toks: list[str] = []
    for i, t in enumerate(texts):
        toks = java_ws_tokens(t)
        docs_ntoks[i] = len(toks)
        all_toks.extend(toks)
    tok_start = np.zeros(n, dtype=np.int64)
    np.cumsum(docs_ntoks[:-1], out=tok_start[1:])
    # base[j] = global token index of window j's first word
    base, _, bounds = windows(tok_start, docs_ntoks, k)
    if len(base) == 0:
        return [np.empty(0, dtype=np.int64)] * n
    acc = fnv_token_hashes(all_toks)
    with np.errstate(over="ignore"):
        g = acc[base]
        for j in range(1, k):
            g = g * POLY + acc[base + j]
        g = fmix64(g).astype(np.int64)
    return np.split(g, bounds[1:])


def word_gram_hashes_udf(k: int):
    """pandas UDF: text → array<long> of its k-word-window hashes."""

    @F.pandas_udf("array<long>")
    def gram_hashes(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_word_gram_hashes(texts.tolist(), k))

    return gram_hashes


def batch_char_gram_hashes(texts, n: int, distinct: bool = True) -> list[np.ndarray]:
    """Per text: int64 hashes of its character n-gram windows (no
    sentinel padding — the shingle convention, ``reference_pad=False``),
    sorted-distinct by default (shingle SETS are what Jaccard and
    MinHash consume). Texts shorter than n get an empty array.

    Same layout as :func:`batch_word_gram_hashes` (``codepoints.tile``):
    the n-char polynomial roll is computed buffer-wide, per-doc windows
    are gathered by range index, fmix64 finalizer. The JVM equivalent
    (``char_ngrams`` zip_with chain + ``xxhash64``) re-evaluates its
    ``split`` child per slice inside CodegenFallback eval — this is the
    measured ~3× cheaper form at web-doc lengths."""
    cp, starts, lens = tile(texts)
    idx, _, bounds = windows(starts, lens, n)
    if len(idx) == 0:
        return [np.empty(0, dtype=np.int64)] * len(texts)
    cp = cp.astype(np.uint64)
    with np.errstate(over="ignore"):
        # buffer-wide n-char polynomial roll; cross-doc windows are never
        # gathered
        W = len(cp) - n + 1
        g = cp[:W].copy()
        for j in range(1, n):
            g = g * POLY + cp[j : j + W]
        h = fmix64(g[idx]).astype(np.int64)
    per_doc = np.split(h, bounds[1:])
    return [np.unique(d) for d in per_doc] if distinct else per_doc


def char_gram_hashes_udf(n: int, distinct: bool = True):
    """pandas UDF: text → array<long> of its (distinct) char-n-gram
    hashes — the shingle-set transport for the MinHash/Jaccard family."""

    @F.pandas_udf("array<long>")
    def shingles(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_char_gram_hashes(texts.tolist(), n, distinct))

    return shingles
