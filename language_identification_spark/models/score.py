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
from .train import CT_PROFILE_SIZE, DUNNING_SMOOTHING, model_table_to_dict


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


def _oracle_predictor(payload):
    """``predict`` of an oracle model class over broadcast tables:
    ``payload`` is (class, its constructor argument, the name of its
    model attribute, the tables)."""
    cls, arg, attr, tables = payload
    m = cls(arg)
    setattr(m, attr, tables)
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
    payload = (CharFrequency, smoothing, "language_profiles", language_profiles)
    return _broadcast_udf(spark, payload, _oracle_predictor)


def make_cavnar_trenkle_predict_udf(spark: SparkSession, profiles: dict):
    """CavnarTrenkle.predict parity (lieterature.py:37-57): out-of-place
    distance of the doc's rank profile to each language profile."""
    payload = (CavnarTrenkle, CT_PROFILE_SIZE, "language_profiles", profiles)
    return _broadcast_udf(spark, payload, _oracle_predictor)


def make_dunning_predict_udf(
    spark: SparkSession, language_models: dict, smoothing: float = DUNNING_SMOOTHING
):
    """Dunning.predict parity: length-normalized log-likelihood with the
    raw-``smoothing`` miss fallback."""
    payload = (Dunning, smoothing, "language_models", language_models)
    return _broadcast_udf(spark, payload, _oracle_predictor)


def score_ngram_relational(
    docs: DataFrame,
    model: DataFrame,
    n: int,
    smoothing: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, lang_pred) for a ``train_ngram_lm`` model TABLE: the table
    is collected and scored by ``make_ngram_predict_udf``, so the answer
    is ``NgramLM.predict``'s exactly (unseen n-grams skipped, ties to the
    first lang in sorted order)."""
    lms = model_table_to_dict(model, "ngram")
    udf = make_ngram_predict_udf(docs.sparkSession, lms, n, smoothing)
    return docs.select(id_col, udf(F.col("text")).alias("lang_pred"))
