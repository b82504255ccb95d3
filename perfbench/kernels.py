"""Serving-kernel cost on the driver: each public kernel the quality UDFs
call, run over one Arrow-batch-sized slice of the workload's own docs, as
milliseconds per 1000 docs.

Reference point, the hand profile in OPTIMIZATION_r07.md (per 5k docs):
features 394 ms, scrub 120, langid 90, perplexity 24.
"""

from __future__ import annotations

import time

import pandas as pd

from language_identification_spark.functions.scrub import scrub_series
from language_identification_spark.functions.text import py_quality_features_batch
from language_identification_spark.models.hashed_ngram import featurize_counts_pdf
from language_identification_spark.models.perplexity import bigram_counts_pdf
from language_identification_spark.session import ENGINE_CONFS

BATCH = int(ENGINE_CONFS["spark.sql.execution.arrow.maxRecordsPerBatch"])
# The slice is the leading docs up to this many chars (at most one batch
# of rows), so long-page workloads cost the same driver time.
MAX_CHARS = 1_500_000


def kernel_ms_per_kdoc(texts: pd.Series, langs: pd.Series, models) -> dict[str, float]:
    """``models`` is a ``QualityModels`` trained on the workload's data."""
    texts = texts.iloc[:BATCH].fillna("").str.strip()
    n = max(int((texts.str.len().cumsum() <= MAX_CHARS).sum()), 1)
    t = texts.iloc[:n].reset_index(drop=True)
    lg = langs.iloc[:n].reset_index(drop=True)
    kernels = {
        "hashed_ngram.predict_labels_ms_per_kdoc":
            lambda: models.langid.predict_labels(t.tolist()),
        "hashed_ngram.featurize_counts_ms_per_kdoc":
            lambda: featurize_counts_pdf(pd.DataFrame({"text": t, "lang": lg})),
        "perplexity.perplexity_batch_ms_per_kdoc":
            lambda: models.lm.perplexity_batch(t.tolist()),
        "perplexity.bigram_counts_ms_per_kdoc":
            lambda: bigram_counts_pdf(pd.DataFrame({"text": t})),
        "text.quality_features_batch_ms_per_kdoc":
            lambda: py_quality_features_batch(t, models.stopwords),
        "scrub.scrub_series_ms_per_kdoc":
            lambda: scrub_series(t),
    }
    out = {}
    for name, fn in kernels.items():
        t0 = time.perf_counter()
        fn()
        out[name] = (time.perf_counter() - t0) * 1e6 / n
    return out
