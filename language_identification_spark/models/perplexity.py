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
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

K_SMOOTH = 0.5


def doc_bigram_keys(text: str) -> np.ndarray:
    """uint64 keys (cur_cp << 32 | nxt_cp) of '_text_' transitions — numpy,
    no per-char Python."""
    cp = np.frombuffer(("_" + text.lower() + "_").encode("utf-32-le"), dtype=np.uint32)
    c = cp.astype(np.uint64)
    return (c[:-1] << np.uint64(32)) | c[1:]


def bigram_key_counts(texts) -> tuple[np.ndarray, np.ndarray]:
    """Distinct packed transition keys of a batch and their counts — the
    one bigram counting kernel (non-``str`` entries count as ``""``)."""
    chunks = [doc_bigram_keys(t if isinstance(t, str) else "") for t in texts]
    if not chunks:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(chunks), return_counts=True)


def bigram_frame(keys, cnts) -> pd.DataFrame:
    """Packed keys + counts → the (cur, nxt, cnt) table
    :meth:`BigramLM.from_counts` takes."""
    keys = np.asarray(keys, dtype=np.uint64)
    cur = [chr(k) for k in (keys >> np.uint64(32)).tolist()]
    nxt = [chr(k) for k in (keys & np.uint64(0xFFFFFFFF)).tolist()]
    return pd.DataFrame(
        {
            "cur": pd.Series(cur, dtype="object"),
            "nxt": pd.Series(nxt, dtype="object"),
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

    def _ids(self, text: str) -> np.ndarray:
        t = "_" + text.lower() + "_"
        cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        cps[cps >= len(self.lut)] = len(self.lut) - 1  # clamp to OOV slot
        return self.lut[cps]

    def perplexity(self, text: str) -> float:
        """Single-doc convenience wrapper over :meth:`perplexity_batch` —
        delegation (not a parallel implementation) is what guarantees the
        two public APIs are bit-identical: the *_batch functions are the
        bit-pinned contract and this inherits it."""
        return float(self.perplexity_batch([text])[0])

    def perplexity_batch(self, texts) -> np.ndarray:
        """WHOLE-BATCH, CHUNKED perplexity: every padded segment
        ``'_' + text + '_'`` tiles one codepoint buffer (docs joined with
        ``'__'``), transition log-probs come from one fancy-indexed lookup
        over the buffer, and per-doc means are ``np.add.reduceat`` segment
        sums — no per-document Python. Cache-sized chunks (see
        hashed_ngram.batch_chunks) keep 32 parallel workers off the DRAM
        bandwidth wall; chunking is value-invariant. Empty docs → +inf
        (matching :meth:`perplexity`)."""
        from .hashed_ngram import batch_chunks

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
        lows = [(t if isinstance(t, str) else "").lower() for t in texts]
        n = len(lows)
        big = "_" + "__".join(lows) + "_"
        cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        np.minimum(cp, len(self.lut) - 1, out=cp)  # clamp to the OOV slot
        ids = self.lut[cp]
        lp = self.logprob[ids[:-1], ids[1:]]
        lens = np.fromiter((len(t) for t in lows), dtype=np.int64, count=n)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1] + 2, out=offsets[1:])
        counts = lens + 1  # transitions per padded doc
        cum = np.cumsum(counts)
        bounds = np.concatenate([np.zeros(1, dtype=np.int64), cum[:-1]])
        pos = np.arange(int(cum[-1]), dtype=np.int64) + np.repeat(offsets - bounds, counts)
        sums = np.add.reduceat(lp[pos], bounds)
        ppl = np.exp(-(sums / counts))
        ppl[lens == 0] = np.inf
        return ppl

    def to_table(self) -> pd.DataFrame:
        chars = sorted(self.char_ids, key=self.char_ids.get)
        rows, cols = np.nonzero(np.isfinite(self.logprob))
        return pd.DataFrame(
            {"cur_id": rows, "nxt_id": cols, "logprob": self.logprob[rows, cols],
             "v": len(chars) + 1}
        ), pd.DataFrame({"char": chars, "id": range(len(chars))})
