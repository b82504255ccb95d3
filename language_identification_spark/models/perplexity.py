"""Char-bigram add-k perplexity scorer (KenLM-style stage, net-new).

North_star: "Kneser-Ney/KenLM-style n-gram perplexity scorer". We use a
char-bigram LM with add-k smoothing: fully deterministic, trainable with a
single distributed groupBy (exact integer counts), and vectorizable with
numpy lookup tables inside the Arrow UDF — no per-char Python on the hot
path.

Semantics (pinned; the oracle and the Spark UDF call the same functions):
- Trained over lowercased *normalized* text of the train split, padded
  ``'_' + text + '_'`` (same sentinel convention as the reference models,
  /root/reference/src/models/statistical_models.py:116).
- P(next|cur) = (cnt(cur,next) + k) / (cnt(cur,·) + k·V), V = |charset|+1
  (the +1 is a dedicated OOV id; unseen chars map to it).
- ppl(doc) = exp(-mean log P over the doc's transitions); empty docs → +inf.

Counting and scoring tile a whole batch of ``'_' + text + '_'`` segments
with ``codepoints.tile`` and read its 2-windows with ``codepoints.windows``;
counting packs each window into ``ngramcount``'s 21-bit-per-codepoint key.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..functions.codepoints import tile, windows
from ..functions.ngramcount import decode_keys, pack_window_keys
from .hashed_ngram import batch_chunks

K_SMOOTH = 0.5


def _lowered(texts) -> list[str]:
    """``t.lower()`` of each text; non-``str`` entries read as ``""``."""
    return [t.lower() if isinstance(t, str) else "" for t in texts]


def _bigram_windows(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The tiled ``'_' + t.lower() + '_'`` buffer of a batch (non-``str``
    entries read as ``""``) and its 2-windows → ``(cp, idx, counts,
    bounds)``; each doc has ``len + 1`` transitions."""
    cp, starts, lens = tile(_lowered(texts), "_", "_")
    return (cp, *windows(starts, lens, 2))


def bigram_key_counts(texts) -> tuple[np.ndarray, np.ndarray]:
    """Distinct transition keys of a batch's ``'_' + t.lower() + '_'``
    and their counts — the one bigram counting kernel (non-``str``
    entries count as ``""``). Keys are ``ngramcount``'s packed 2-gram
    windows (21 bits per codepoint), built over cache-sized chunks
    (``batch_chunks``): one tile of a whole batch of long pages measured
    slower than a loop over docs."""
    keys = [pack_window_keys(_lowered(c), 2, True) for c in batch_chunks(list(texts))]
    return np.unique(np.concatenate(keys or [np.empty(0, np.uint64)]), return_counts=True)


def bigram_frame(keys, cnts) -> pd.DataFrame:
    """Packed keys + counts → the (cur, nxt, cnt) table
    :meth:`BigramLM.from_counts` takes."""
    grams = decode_keys(np.asarray(keys, dtype=np.uint64), 2)
    return pd.DataFrame(
        {
            "cur": pd.Series([g[0] for g in grams], dtype="object"),
            "nxt": pd.Series([g[1] for g in grams], dtype="object"),
            "cnt": np.asarray(cnts, dtype=np.int64),
        }
    )


def bigram_counts_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """(text) batch → (cur, nxt, cnt) partial aggregate for mapInPandas."""
    return bigram_frame(*bigram_key_counts(pdf["text"]))


@dataclass
class BigramLM:
    """Dense (V+1)×(V+1) log-prob matrix + codepoint→id LUT for vectorized
    scoring. Row/col V is the OOV id."""

    char_ids: dict[str, int]
    logprob: np.ndarray  # (V+1, V+1) float64
    lut: np.ndarray      # (max_cp+2,) int32 codepoint → id (OOV default)
    k: float = K_SMOOTH

    @classmethod
    def from_counts(cls, counts: pd.DataFrame, k: float = K_SMOOTH) -> "BigramLM":
        chars = sorted(set(counts["cur"]) | set(counts["nxt"]))
        char_ids = {c: i for i, c in enumerate(chars)}
        v = len(chars) + 1  # + OOV
        mat = np.zeros((v, v), dtype=np.float64)
        ci = counts["cur"].map(char_ids).to_numpy()
        ni = counts["nxt"].map(char_ids).to_numpy()
        mat[ci, ni] = counts["cnt"].to_numpy()
        totals = mat.sum(axis=1, keepdims=True)
        logprob = np.log(mat + k) - np.log(totals + k * v)
        max_cp = max((ord(c) for c in chars), default=0)
        lut = np.full(max_cp + 2, v - 1, dtype=np.int32)
        for c, i in char_ids.items():
            lut[ord(c)] = i
        return cls(char_ids=char_ids, logprob=logprob, lut=lut, k=k)

    def perplexity_batch(self, texts) -> np.ndarray:
        """WHOLE-BATCH, CHUNKED perplexity: every padded segment
        ``'_' + text + '_'`` tiles one codepoint buffer, transition
        log-probs come from one fancy-indexed lookup over the buffer, and
        per-doc means are ``np.add.reduceat`` segment sums — no per-
        document Python. Cache-sized chunks (see hashed_ngram.batch_chunks)
        keep 32 parallel workers off the DRAM bandwidth wall; chunking is
        value-invariant. Empty docs → +inf."""
        n = len(texts)
        if n == 0:
            return np.zeros(0, dtype=np.float64)
        out = np.empty(n, dtype=np.float64)
        pos = 0
        for chunk in batch_chunks(texts):
            out[pos : pos + len(chunk)] = self._perplexity_chunk(chunk)
            pos += len(chunk)
        return out

    def _perplexity_chunk(self, texts) -> np.ndarray:
        cp, pos, counts, bounds = _bigram_windows(texts)
        ids = self.lut[np.minimum(cp, len(self.lut) - 1)]  # clamp to the OOV slot
        lp = self.logprob[ids[:-1], ids[1:]]
        sums = np.add.reduceat(lp[pos], bounds)
        ppl = np.exp(-(sums / counts))
        ppl[counts == 1] = np.inf  # empty doc: only the '__' transition
        return ppl
