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
per Arrow batch (guide §4.2): tokens of the whole batch tile one
codepoint buffer, per-word FNV-1a runs as ``max_word_len`` masked
vector rounds, and window hashes are a polynomial combine over shifted
views with an fmix64 finalizer. Measured 2.7 s for the same pass
(2.5×), with no JVM↔Python payload beyond the text in and 8-byte
hashes out.

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

_WS_RE = re.compile("[ \t\n\x0b\f\r]+")

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_POLY = np.uint64(1000003)
_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _fmix64(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _FMIX1
    h ^= h >> np.uint64(33)
    h *= _FMIX2
    h ^= h >> np.uint64(33)
    return h


def java_ws_tokens(t) -> list[str]:
    """Twin of ``functions.text.words``: Spark's ``split`` calls
    ``Pattern.split(str, -1)``, which KEEPS leading and trailing empty
    tokens ('a b ' → ['a','b','']) — exactly Python ``re.split``.
    Empty text → [] (the ``words()`` length-0 guard)."""
    if not isinstance(t, str) or not t:
        return []
    return _WS_RE.split(t)


def fnv_token_hashes(all_toks: list[str], lens: np.ndarray | None = None) -> np.ndarray:
    """uint64 FNV-1a over codepoints, one hash per token, vectorized as
    ``max_token_len`` masked rounds over one tiled codepoint buffer.
    Pass ``lens`` (int64 token lengths) if the caller already has them —
    the per-token ``len()`` sweep is a measurable share of the pass."""
    nw = len(all_toks)
    if nw == 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        big = "\x00".join(all_toks)
        cp = np.frombuffer(
            big.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        ).astype(np.uint64)
        if lens is None:
            lens = np.fromiter((len(w) for w in all_toks), dtype=np.int64, count=nw)
        starts = np.zeros(nw, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        acc = np.full(nw, _FNV_OFFSET, dtype=np.uint64)
        for p in range(int(lens.max())):
            m = lens > p
            acc[m] = (acc[m] ^ cp[starts[m] + p]) * _FNV_PRIME
    return acc


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
    nw = len(all_toks)
    empty = np.empty(0, dtype=np.int64)
    if nw == 0:
        return [empty] * n
    with np.errstate(over="ignore"):
        big = "\x00".join(all_toks)
        cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        lens = np.fromiter((len(w) for w in all_toks), dtype=np.int64, count=nw)
        starts = np.zeros(nw, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        acc = np.full(nw, _FNV_OFFSET, dtype=np.uint64)
        for p in range(int(lens.max())):
            m = lens > p
            acc[m] = (acc[m] ^ cp[starts[m] + p]) * _FNV_PRIME
        counts = np.maximum(docs_ntoks - (k - 1), 0)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(docs_ntoks[:-1], out=offs[1:])
        total = int(counts.sum())
        if total == 0:
            return [empty] * n
        bounds = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=bounds[1:])
        # base[j] = global token index of window j's first word
        base = np.arange(total, dtype=np.int64) + np.repeat(offs - bounds, counts)
        g = acc[base].copy()
        for j in range(1, k):
            g = g * _POLY + acc[base + j]
        g = _fmix64(g).astype(np.int64)
    cum = np.concatenate([bounds, [total]])
    return [g[cum[i] : cum[i + 1]] for i in range(n)]


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

    Same batch-tiling as :func:`batch_word_gram_hashes`: one codepoint
    buffer for the whole batch (docs joined by one separator char), the
    n-char polynomial roll computed buffer-wide, per-doc windows gathered
    by range index, fmix64 finalizer. The JVM equivalent
    (``char_ngrams`` zip_with chain + ``xxhash64``) re-evaluates its
    ``split`` child per slice inside CodegenFallback eval — this is the
    measured ~3× cheaper form at web-doc lengths."""
    m = len(texts)
    lens = np.zeros(m, dtype=np.int64)
    parts: list[str] = []
    for i, t in enumerate(texts):
        if isinstance(t, str):
            lens[i] = len(t)
            parts.append(t)
        else:
            parts.append("")
    empty = np.empty(0, dtype=np.int64)
    if int(lens.sum()) == 0:
        return [empty] * m
    with np.errstate(over="ignore"):
        big = "\x00".join(parts)
        cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        L = len(cp)
        if L < n:
            return [empty] * m
        # buffer-wide n-char polynomial roll; cross-doc windows are never
        # gathered (base indices stay inside each doc's span)
        W = L - n + 1
        g = cp[:W].copy()
        for j in range(1, n):
            g = g * _POLY + cp[j : j + W]
        g = _fmix64(g)
        offs = np.zeros(m, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=offs[1:])
        counts = np.maximum(lens - (n - 1), 0)
        total = int(counts.sum())
        if total == 0:
            return [empty] * m
        bounds = np.zeros(m, dtype=np.int64)
        np.cumsum(counts[:-1], out=bounds[1:])
        base = np.arange(total, dtype=np.int64) + np.repeat(offs - bounds, counts)
        h = g[base].astype(np.int64)
    cum = np.concatenate([bounds, [total]])
    if distinct:
        return [np.unique(h[cum[i] : cum[i + 1]]) for i in range(m)]
    return [h[cum[i] : cum[i + 1]] for i in range(m)]


def char_gram_hashes_udf(n: int, distinct: bool = True):
    """pandas UDF: text → array<long> of its (distinct) char-n-gram
    hashes — the shingle-set transport for the MinHash/Jaccard family."""

    @F.pandas_udf("array<long>")
    def shingles(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_char_gram_hashes(texts.tolist(), n, distinct))

    return shingles
