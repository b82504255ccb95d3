"""The one codepoint layout every whole-batch text kernel works over.

A kernel turns an Arrow batch of texts into ONE uint32 codepoint buffer
(``tile``), gathers the n-windows that stay inside each text
(``windows``), folds each text's codepoints into one value (``fold``) and
hashes with the primitives below. Texts are laid out back to back, each
as ``head + text + tail``, with no separator between them: no window and
no fold crosses a segment, so a separator would carry no meaning.

It also holds the one codepoint-class table, read through ``class_counts``.

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


# ------------------------------------------------------ codepoint classes
# One partition of the codepoints (inclusive bounds); everything unlisted,
# astral codepoints and lone surrogates included, is OTHER. Counters read
# different ranges on purpose — Cyrillic is U+0400-04FF as a script but
# U+0410-044F inside quality_score's "alpha" — so each core is kept apart
# from the rest of its block and each counter names its union of classes.
N_CLASSES = 10
(OTHER, LATIN, LATIN1, CYR_CORE, CYR_REST, GREEK_CORE, GREEK_REST, CJK, SPACE,
 SYMBOL) = range(N_CLASSES)
CLASS_RANGES = (
    (SPACE, 0x20, 0x20), (LATIN, 0x41, 0x5A), (LATIN, 0x61, 0x7A), (LATIN1, 0xC0, 0xFF),
    (GREEK_REST, 0x370, 0x390), (GREEK_CORE, 0x391, 0x3C9), (GREEK_REST, 0x3CA, 0x3FF),
    (CYR_REST, 0x400, 0x40F), (CYR_CORE, 0x410, 0x44F), (CYR_REST, 0x450, 0x4FF),
    (CJK, 0x4E00, 0x9FFF),
) + tuple((SYMBOL, ord(c), ord(c)) for c in "!#$%&*+<=>@^|~")
# the script letter counts (lang_guess_script, script_mixing, is_cjk)
SCRIPT_UNIONS = {"n_latin": (LATIN,), "n_cjk": (CJK,),
                 "n_cyrillic": (CYR_CORE, CYR_REST), "n_greek": (GREEK_CORE, GREEK_REST)}
# dense BMP lookup; the last slot stands for every astral codepoint
CLASS_TABLE = np.zeros(0x10001, dtype=np.uint8)
for _cls, _lo, _hi in CLASS_RANGES:
    CLASS_TABLE[_lo : _hi + 1] = _cls


def class_counts(cp, lens) -> np.ndarray:
    """(segments × N_CLASSES) int64 count of each class in each segment of
    a ``tile`` buffer: one table lookup and one ``bincount``."""
    key = np.repeat(np.arange(len(lens), dtype=np.int64) * N_CLASSES, lens)
    key += CLASS_TABLE[np.minimum(cp, 0x10000)]
    return np.bincount(key, minlength=len(lens) * N_CLASSES).reshape(-1, N_CLASSES)


def class_unions(counts, unions: dict) -> dict[str, np.ndarray]:
    """Per-segment count of each named union of classes."""
    return {k: counts[:, list(v)].sum(axis=1) for k, v in unions.items()}


def char_class(classes) -> str:
    """The regex character class of a union in literal characters (e.g.
    ``[Ѐ-ӿ]``), which Java regex, RE2 and Python ``re`` read alike."""
    spans: list[list[int]] = []
    for lo, hi in sorted((lo, hi) for c, lo, hi in CLASS_RANGES if c in classes):
        if spans and lo == spans[-1][1] + 1:
            spans[-1][1] = hi
        else:
            spans.append([lo, hi])
    return "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in spans) + "]"
