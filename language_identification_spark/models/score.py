"""Batch scoring: broadcast model + Arrow pandas UDFs.

Serving pattern (north_star): model broadcast once per executor, scored over
Arrow batches — one UDF per model family, each built by ``_broadcast_udf``.
The n-gram/Markov scorers are numpy-vectorized per batch via a gram →
per-language log-prob *vector* map: the reference's "skip n-grams unseen
for a language" quirk (statistical_models.py:44-45) is encoded as a 0.0 in
that vector, so ``score = Σ count(g) · vec(g)`` reproduces the math
exactly, including the quirk. Character frequency, Cavnar–Trenkle and
Dunning reuse the oracle classes directly (per-doc loops inside the Arrow
batch).

Scoring is doc-local: no gram leaves the Python worker, so a scored frame
plans no join and no shuffle. The relational form of each scorer is its
DuckDB oracle in ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import py_char_ngrams
from ..oracle.reference import CavnarTrenkle, CharFrequency, Dunning
from .train import model_table_to_dict


class VectorizedBagScorer:
    """gram → per-lang log-score vector; missing (lang, gram) scores 0."""

    def __init__(self, language_models: dict[str, dict[str, float]], smoothing: float):
        self.langs = sorted(language_models)
        vocab: set[str] = set()
        for m in language_models.values():
            vocab.update(m)
        self.vec: dict[str, np.ndarray] = {}
        for g in vocab:
            v = np.zeros(len(self.langs), dtype=np.float64)
            for i, lang in enumerate(self.langs):
                p = language_models[lang].get(g)
                if p is not None:
                    v[i] = math.log(p + smoothing)
            self.vec[g] = v

    def score_counts(self, counts: dict[str, int]) -> np.ndarray:
        s = np.zeros(len(self.langs), dtype=np.float64)
        for g, c in counts.items():
            v = self.vec.get(g)
            if v is not None:
                s += c * v
        return s

    def predict_ngram(self, texts, n: int) -> list[str]:
        out = []
        for t in texts:
            grams: dict[str, int] = {}
            for g in py_char_ngrams(t, n):
                grams[g] = grams.get(g, 0) + 1
            out.append(self.langs[int(np.argmax(self.score_counts(grams)))])
        return out


def _broadcast_udf(spark: SparkSession, payload, build):
    """Scalar pandas UDF text → predicted lang. ``payload`` is broadcast
    once; ``build(payload)`` returns ``predict(list[str]) -> list[str]``
    and runs once per Python worker process. NULL text scores as ""
    (P6 str coercion at the serving boundary: the reference never sees
    nulls, so its math stays untouched)."""
    bc = spark.sparkContext.broadcast(payload)
    state: dict = {}

    @F.pandas_udf(T.StringType())
    def predict(texts: pd.Series) -> pd.Series:
        if "predict" not in state:
            state["predict"] = build(bc.value)
        return pd.Series(state["predict"](texts.fillna("").tolist()))

    return predict


def _bag_predictor(payload):
    models, n, smoothing = payload
    scorer = VectorizedBagScorer(models, smoothing)
    return lambda texts: scorer.predict_ngram(texts, n)


def _char_freq_predictor(payload):
    profiles, smoothing = payload
    m = CharFrequency(smoothing=smoothing)
    m.language_profiles = profiles
    return m.predict


def _cavnar_trenkle_predictor(payload):
    profiles, max_profile_size = payload
    m = CavnarTrenkle(max_profile_size=max_profile_size)
    m.language_profiles = profiles
    return m.predict


def _dunning_predictor(payload):
    models, smoothing = payload
    m = Dunning(smoothing=smoothing)
    m.language_models = models
    return m.predict


def make_ngram_predict_udf(spark: SparkSession, language_models: dict, n: int, smoothing: float):
    """Scalar pandas UDF: text → predicted lang (NgramModel.predict parity)."""
    return _broadcast_udf(spark, (language_models, n, smoothing), _bag_predictor)


def make_markov_predict_udf(spark: SparkSession, language_models: dict, smoothing: float):
    """Markov chain predict (statistical_models.py:131-147) — flatten the
    nested cur→nxt dicts to 2-char grams; the '_' + t + '_' transitions
    are then the padded char 2-grams, so it is the n = 2 bag scorer."""
    flat = {
        lang: {cur + nxt: p for cur, nxts in m.items() for nxt, p in nxts.items()}
        for lang, m in language_models.items()
    }
    return make_ngram_predict_udf(spark, flat, 2, smoothing)


def make_char_freq_predict_udf(spark: SparkSession, language_profiles: dict, smoothing: float):
    """CharacterFrequency.predict parity (statistical_models.py:76-99):
    cosine of the doc's smoothed char profile vs each language profile."""
    return _broadcast_udf(spark, (language_profiles, smoothing), _char_freq_predictor)


def make_cavnar_trenkle_predict_udf(spark: SparkSession, profiles: dict, max_profile_size: int = 400):
    """CavnarTrenkle.predict parity (lieterature.py:37-57): out-of-place
    distance of the doc's rank profile to each language profile."""
    return _broadcast_udf(spark, (profiles, max_profile_size), _cavnar_trenkle_predictor)


def make_dunning_predict_udf(spark: SparkSession, language_models: dict, smoothing: float = 0.5):
    """Dunning.predict parity: length-normalized log-likelihood with the
    raw-``smoothing`` miss fallback."""
    return _broadcast_udf(spark, (language_models, smoothing), _dunning_predictor)


def score_ngram_relational(
    docs: DataFrame,
    model: DataFrame,
    n: int,
    smoothing: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, lang_pred) for a ``train_ngram_lm`` model TABLE: the table
    is collected and scored by ``make_ngram_predict_udf``, so the answer
    is ``NgramLM.predict``'s exactly (unseen n-grams skipped, ties to the
    first lang in sorted order)."""
    lms = model_table_to_dict(model, "ngram")
    udf = make_ngram_predict_udf(docs.sparkSession, lms, n, smoothing)
    return docs.select(id_col, udf(F.col(text_col)).alias("lang_pred"))
