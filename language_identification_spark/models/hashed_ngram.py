"""fastText-style hashed char-n-gram language-ID model.

North_star serving model: "fastText-style langid model served inside
vectorized pandas/Arrow UDFs (model broadcast once per executor, batched
char-n-gram hashing + softmax inference, never per-row Python)".

Design (Spark-first, no SGD needed):
- Features: char {1,2,3}-grams of the lowercased text, hashed into ``DIM``
  buckets. Hashing is FULLY numpy-vectorized over the ``codepoints``
  layout: n-gram hashes are polynomial rolls over shifted views of the
  batch buffer, finalized with the murmur3 fmix64 avalanche — zero
  per-gram Python. (An earlier per-gram FNV loop measured ~5× slower.)
- Training: ``mapInPandas`` feature extraction (per-language bincount per
  Arrow batch → shuffle carries at most L×DIM rows per task) →
  ``groupBy(lang, bucket).sum`` → small count table collected to the driver
  → dense log-prob matrix ``W[L, D]`` + log priors (multinomial NB with
  add-alpha smoothing — fastText's hashed bag, trained by aggregation).
- Serving: ``W`` broadcast once per executor; per doc ``W[:, ids].sum(1)``
  + prior, softmax for ``lang_conf``.

The same featurizer/scorer functions run in the pure-Python oracle, so
predictions and confidences are bit-identical between oracle and Spark.

Reference analogue: the statistical n-gram models
(/root/reference/src/models/statistical_models.py:7-49) — same
bag-of-char-n-gram evidence, modernized to the hashed/softmax form.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..functions.codepoints import POLY, fmix64, tile, windows

DIM = 65536  # hash buckets (2^16): dense W is L×65536 float64 → ~0.5 MB/lang
ALPHA = 0.1  # add-alpha smoothing for NB bucket probabilities


def doc_bucket_ids(text: str, dim: int = DIM) -> np.ndarray:
    """All hashed {1,2,3}-gram bucket ids of the lowercased text, one entry
    per occurrence (duplicates preserved), n = 1 ids first: the one-doc
    slice of :func:`batch_bucket_ids`.

    Padding mirrors the reference sentinel convention
    (statistical_models.py:23): n-grams run over ``'_'*(n-1) + text + '_'``.
    """
    ids1, ids2, ids3, _, _ = batch_bucket_ids([text], dim)
    return np.concatenate([ids1, ids2, ids3])


def batch_chunks(texts, max_chars: int = 16_384, max_docs: int = 2048):
    """Split a batch into cache-sized chunks (by cumulative chars).

    The whole-batch vectorized forms allocate working buffers proportional
    to the chunk's total characters; an unchunked 10k-doc Arrow batch
    streams hundreds of MB through every python worker, and at 32
    workers that saturates DRAM bandwidth — measured as a 32-proc
    aggregate BELOW the 8-proc one (127k vs 275k docs/s). Swept 4K-512K:
    16K chars (L2-resident working set, ~50 web docs) is fastest at BOTH
    8 and 32 procs (549k / 1.65M docs/s aggregate, 3.0× = this host's
    busy-loop ceiling); numpy per-chunk call overhead (~90 µs) amortizes
    over chars, so long-doc batches stay efficient at a few docs/chunk.
    Chunking cannot change any value: every per-doc reduction is an
    ``np.add.reduceat`` segment, computed independently of its
    neighbors."""
    n = len(texts)
    start = 0
    chars = 0
    for i in range(n):
        t = texts[i]
        chars += len(t) if isinstance(t, str) else 0
        if (chars >= max_chars or i - start + 1 >= max_docs) and i + 1 > start:
            yield texts[start : i + 1]
            start = i + 1
            chars = 0
    if start < n:
        yield texts[start:]


def batch_bucket_ids(
    texts, dim: int = DIM
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch hashed {1,2,3}-gram bucket ids — ONE encode and three
    vectorized hash passes for the entire Arrow batch, no per-document
    Python beyond lowercasing.

    Layout: ``codepoints.tile`` with segments ``'__' + text + '_'``; each
    n's rolling hash is computed over the WHOLE buffer and the per-doc
    windows are gathered with ``codepoints.windows`` (each doc contributes
    exactly ``len+1`` grams per n, so all three blocks share the same
    reduceat boundaries).

    Returns ``(ids1, ids2, ids3, bounds, counts)``: per-n bucket-id arrays
    laid out doc-major, the shared ``np.add.reduceat`` segment boundaries,
    and per-doc gram counts (``len+1``).
    """
    G, starts, lens = tile(
        [t.lower() if isinstance(t, str) else "" for t in texts], "__", "_"
    )
    G = G.astype(np.uint64)
    # base[j] = start of j's doc + within-doc position (0..len)
    base, counts, bounds = windows(starts, lens, 3)
    h1 = fmix64(G[base + 2])
    g2 = G[:-1] * POLY + G[1:]
    h2 = fmix64(g2[base + 1])
    g3 = (G[:-2] * POLY + G[1:-1]) * POLY + G[2:]
    h3 = fmix64(g3[base])
    d = np.uint64(dim)
    return (
        (h1 % d).astype(np.int64),
        (h2 % d).astype(np.int64),
        (h3 % d).astype(np.int64),
        bounds,
        counts,
    )


def doc_bucket_counts(text: str, dim: int = DIM) -> dict[int, int]:
    """(bucket → count) for one document — oracle-side training helper."""
    ids = doc_bucket_ids(text, dim)
    vals, cnts = np.unique(ids, return_counts=True)
    return dict(zip(vals.tolist(), cnts.tolist()))


def featurize_counts_pdf(pdf: pd.DataFrame, dim: int = DIM) -> pd.DataFrame:
    """(lang, text) batch → (lang, bucket, cnt) partial aggregate.

    One bincount per language per Arrow batch: the shuffle moves at most
    L×DIM rows per task instead of one row per (doc, gram).
    """
    per_lang: dict[str, list] = {}
    for lang, text in zip(pdf["lang"], pdf["text"]):
        per_lang.setdefault(lang, []).append(text if isinstance(text, str) else "")
    frames = []
    for lang, texts in per_lang.items():
        counts = np.zeros(dim, dtype=np.int64)
        for chunk in batch_chunks(texts):
            ids1, ids2, ids3, _, _ = batch_bucket_ids(chunk, dim)
            counts += np.bincount(ids1, minlength=dim)
            counts += np.bincount(ids2, minlength=dim)
            counts += np.bincount(ids3, minlength=dim)
        nz = np.nonzero(counts)[0]
        frames.append(pd.DataFrame({"lang": lang, "bucket": nz, "cnt": counts[nz]}))
    if not frames:
        return pd.DataFrame({"lang": pd.Series(dtype="object"),
                             "bucket": pd.Series(dtype="int64"),
                             "cnt": pd.Series(dtype="int64")})
    return pd.concat(frames, ignore_index=True)


@dataclass
class HashedNgramNB:
    """Dense NB-in-hashed-space model: W[L, D] log-probs + log priors."""

    langs: list[str]
    W: np.ndarray          # (L, D) float64 log P(bucket | lang)
    log_prior: np.ndarray  # (L,)   float64 log P(lang)
    dim: int = DIM

    @classmethod
    def from_counts(
        cls,
        bucket_counts: pd.DataFrame,  # columns lang, bucket, cnt (exact ints)
        doc_counts: dict[str, int],
        dim: int = DIM,
        alpha: float = ALPHA,
    ) -> "HashedNgramNB":
        if any(pd.isna(lg) for lg in doc_counts):
            raise ValueError("training row with a NULL `lang`: the lang column must be non-null")
        langs = sorted(doc_counts)
        idx = {lg: i for i, lg in enumerate(langs)}
        counts = np.zeros((len(langs), dim), dtype=np.float64)
        if len(bucket_counts):
            li = bucket_counts["lang"].map(idx).to_numpy()
            np.add.at(counts, (li, bucket_counts["bucket"].to_numpy()),
                      bucket_counts["cnt"].to_numpy())
        totals = counts.sum(axis=1, keepdims=True)
        W = np.log(counts + alpha) - np.log(totals + alpha * dim)
        n_docs = np.array([doc_counts[lg] for lg in langs], dtype=np.float64)
        log_prior = np.log(n_docs) - np.log(n_docs.sum())
        return cls(langs=langs, W=W, log_prior=log_prior, dim=dim)

    def score_batch(self, texts) -> tuple[np.ndarray, np.ndarray]:
        """→ (pred_idx int64[N], conf float64[N]); softmax confidence of the
        argmax language. Deterministic: fixed lang order, fixed op order.

        WHOLE-BATCH, CHUNKED: `batch_bucket_ids` featurization + per-
        language ``np.add.reduceat`` segment sums, over cache-sized chunks
        (see :func:`batch_chunks`) — no per-document Python loop, and the
        working set stays cache-resident so 32 parallel workers don't
        fight for DRAM bandwidth. Chunking is value-invariant (each doc's
        sum is its own reduceat segment)."""
        n = len(texts)
        if n == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
        preds = np.empty(n, dtype=np.int64)
        confs = np.empty(n, dtype=np.float64)
        pos = 0
        for chunk in batch_chunks(texts):
            c = len(chunk)
            ids1, ids2, ids3, bounds, _ = batch_bucket_ids(chunk, self.dim)
            scores = np.empty((c, len(self.langs)), dtype=np.float64)
            for li in range(len(self.langs)):
                w = self.W[li]
                s = np.add.reduceat(w[ids1], bounds)
                s += np.add.reduceat(w[ids2], bounds)
                s += np.add.reduceat(w[ids3], bounds)
                scores[:, li] = s
            scores += self.log_prior
            m = scores.max(axis=1, keepdims=True)
            e = np.exp(scores - m)
            p = np.argmax(scores, axis=1)
            preds[pos : pos + c] = p
            confs[pos : pos + c] = e[np.arange(c), p] / e.sum(axis=1)
            pos += c
        return preds, confs

    def predict_labels(self, texts) -> tuple[list[str], np.ndarray]:
        preds, confs = self.score_batch(texts)
        return [self.langs[i] for i in preds], confs
