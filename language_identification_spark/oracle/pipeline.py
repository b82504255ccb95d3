"""Pure-pandas/single-process oracle for the full quality pipeline.

Computes the exact same per-document outputs as
``pipeline/quality.run_quality_pipeline`` — (drop_reason, keep, lang_pred,
lang_conf, perplexity, scrubbed_text) — using the SAME shared modules
(functions.text / functions.scrub / models.hashed_ngram /
models.perplexity / pipeline.rules), but trained with plain pandas
group-bys instead of Spark shuffles. Because both sides share the scoring
code and both train from exact integer counts, parity is bit-identical, not
just F1≥0.99.
"""

from __future__ import annotations

import pandas as pd

from ..functions.scrub import scrub_text
from ..functions.text import py_norm, py_quality_features
from ..models.hashed_ngram import DIM, HashedNgramNB, doc_bucket_counts
from ..models.perplexity import BigramLM, bigram_frame, bigram_key_counts
from ..pipeline.rules import py_drop_reason


def train_oracle_models(train_pdf: pd.DataFrame, dim: int = DIM):
    """train_pdf: columns (text, lang). Returns (HashedNgramNB, BigramLM)."""
    acc: dict[tuple[str, int], int] = {}
    doc_counts: dict[str, int] = {}
    norms = [py_norm(text or "") for text in train_pdf["text"]]
    for norm, lang in zip(norms, train_pdf["lang"]):
        doc_counts[lang] = doc_counts.get(lang, 0) + 1
        for b, c in doc_bucket_counts(norm, dim).items():
            acc[(lang, b)] = acc.get((lang, b), 0) + c

    langs, buckets = zip(*acc.keys()) if acc else ((), ())
    bucket_counts = pd.DataFrame(
        {"lang": langs, "bucket": buckets, "cnt": list(acc.values())}
    )
    nb = HashedNgramNB.from_counts(bucket_counts, doc_counts, dim=dim)
    lm = BigramLM.from_counts(bigram_frame(*bigram_key_counts(norms)))
    return nb, lm


def run_oracle_pipeline(
    pages_pdf: pd.DataFrame,
    nb: HashedNgramNB,
    lm: BigramLM,
    stopwords: tuple[str, ...] | None = None,
) -> pd.DataFrame:
    """pages → oracle output frame keyed by url.

    Scores through the SAME whole-batch functions the Spark UDFs call
    (score_batch / perplexity_batch). Their per-doc segment sums are
    ``np.add.reduceat`` — computed independently per segment — so the
    numbers are invariant to batch composition: oracle-over-all-docs is
    bit-identical to Spark-over-Arrow-batches by construction."""
    norms = [py_norm(t or "") for t in pages_pdf["text"]]
    labels, confs = nb.predict_labels(norms)
    ppls = lm.perplexity_batch(norms)
    rows = []
    for url, norm, label, conf, ppl in zip(
        pages_pdf["url"], norms, labels, confs, ppls
    ):
        feats = py_quality_features(norm, stopwords)
        reason = py_drop_reason(feats, float(conf), float(ppl))
        rows.append(
            {
                "url": url,
                "norm_text": norm,
                "lang_pred": label,
                "lang_conf": float(conf),
                "perplexity": float(ppl),
                "scrubbed_text": scrub_text(norm),
                "drop_reason": reason,
                "keep": reason is None,
                **feats,
            }
        )
    return pd.DataFrame(rows)
