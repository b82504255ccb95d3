"""The one codepoint layout every whole-batch text kernel works over.

A kernel turns an Arrow batch of texts into ONE uint32 codepoint buffer
(``tile``), gathers the n-windows that stay inside each text
(``windows``), folds each text's codepoints into one value (``fold``) and
hashes with the primitives below. Texts are laid out back to back, each
as ``head + text + tail``, with no separator between them: no window and
no fold crosses a segment, so a separator would carry no meaning.

Encoding is utf-32-le with ``surrogatepass``: a lone surrogate is one
codepoint, as it is to the ``str`` oracles. Arrow strings are UTF-8, so
Spark never sends one; the per-doc oracles and the Hypothesis tests do.
"""

from __future__ import annotations

import numpy as np

FNV_OFFSET = np.uint64(0xCBF29CE484222325)  # FNV-1a, 64-bit
FNV_PRIME = np.uint64(0x100000001B3)
POLY = np.uint64(1000003)  # polynomial roll of n-gram / word-window hashes
FOLD_MOD = 1_000_000_007  # (acc*31 + cp) mod FOLD_MOD: the cross-engine fold
_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_S33 = np.uint64(33)


def encode(text: str) -> np.ndarray:
    """uint32 codepoints of ``text``."""
    return np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)


def decode(cps) -> str:
    """The string of a codepoint array (inverse of :func:`encode`)."""
    return np.ascontiguousarray(cps, dtype="<u4").tobytes().decode("utf-32-le", "surrogatepass")


def tile(texts, head: str = "", tail: str = "") -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One buffer holding ``head + t + tail`` for each text, back to back
    (non-``str`` entries read as ``""``) → ``(cp, starts, lens)``: the
    uint32 buffer and each segment's start and length."""
    parts = [t if isinstance(t, str) else "" for t in texts]
    n = len(parts)
    lens = np.fromiter(map(len, parts), dtype=np.int64, count=n) + (len(head) + len(tail))
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    big = head + (tail + head).join(parts) + tail if n else ""
    return encode(big), starts, lens


def windows(starts, lens, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every n-window that stays inside its segment → ``(idx, counts,
    bounds)``: each window's start index in the buffer (segment-major),
    the per-segment window count and the ``np.add.reduceat`` bound of each
    segment. Serves token arrays too: ``starts`` is each doc's first-token
    index and ``lens`` its token count."""
    counts = np.maximum(np.asarray(lens, dtype=np.int64) - (n - 1), 0)
    bounds = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=bounds[1:])
    idx = np.arange(int(counts.sum()), dtype=np.int64) + np.repeat(starts - bounds, counts)
    return idx, counts, bounds


def fold(cp, starts, lens, init, step) -> np.ndarray:
    """Per segment, ``acc = step(acc, cp)`` over its codepoints in order,
    from ``init`` (whose dtype the result takes). Segments are visited
    longest first, so those still active at position p are a prefix:
    each round is two slices and one gather, never a mask."""
    n = len(lens)
    out = np.full(n, init)
    if n == 0:
        return out
    order = np.argsort(-lens, kind="stable")
    neg = -lens[order]
    ss = starts[order]
    acc = out.copy()
    with np.errstate(over="ignore"):
        for p in range(-int(neg[0])):
            k = int(np.searchsorted(neg, -(p + 1), side="right"))
            acc[:k] = step(acc[:k], cp[ss[:k] + p])
    out[order] = acc
    return out


def fnv1a_step(acc, cp):
    """One FNV-1a round over a codepoint (uint64 wraparound)."""
    return (acc ^ cp) * FNV_PRIME


def mod_step(acc, cp):
    """One round of the cross-engine fold ``(acc*31 + cp) mod FOLD_MOD``;
    exact in int64, since acc < FOLD_MOD keeps acc*31 + cp < 2^63."""
    return (acc * 31 + cp) % FOLD_MOD


def fmix64(h: np.ndarray) -> np.ndarray:
    """murmur3's 64-bit finalizer (avalanche) of a uint64 array, as a new
    array."""
    h = h ^ (h >> _S33)
    h *= _FMIX1
    h ^= h >> _S33
    h *= _FMIX2
    h ^= h >> _S33
    return h
