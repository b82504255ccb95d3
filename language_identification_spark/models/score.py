"""Batch scoring: broadcast model + Arrow pandas UDFs.

Serving pattern (north_star): model broadcast once per executor, scored over
Arrow batches. The n-gram/Markov scorers are numpy-vectorized per batch via
a gram → per-language log-prob *vector* map: the reference's "skip n-grams
unseen for a language" quirk (statistical_models.py:44-45) is encoded as a
0.0 in that vector, so ``score = Σ count(g) · vec(g)`` reproduces the math
exactly, including the quirk. Cavnar–Trenkle and Dunning reuse the oracle
classes directly (per-doc loops inside the Arrow batch — acceptable: their
profiles are rank lists, not bags).

Also provides the pure-relational n-gram scorer (SURVEY.md §2.4 J1):
explode → broadcast join model table → groupBy sum → max_by. Same result as
the UDF path; it is the DuckDB-checkable form.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import char_ngrams, py_char_ngrams


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
            for g in py_char_ngrams(t if isinstance(t, str) else "", n):
                grams[g] = grams.get(g, 0) + 1
            out.append(self.langs[int(np.argmax(self.score_counts(grams)))])
        return out


def make_ngram_predict_udf(spark: SparkSession, language_models: dict, n: int, smoothing: float):
    """Scalar pandas UDF: text → predicted lang (NgramModel.predict parity)."""
    bc = spark.sparkContext.broadcast((language_models, n, smoothing))
    state: dict = {}

    @F.pandas_udf(T.StringType())
    def predict(texts: pd.Series) -> pd.Series:
        if "scorer" not in state:  # once per Python worker process
            models, nn, sm = bc.value
            state["scorer"] = VectorizedBagScorer(models, sm)
            state["n"] = nn
        return pd.Series(state["scorer"].predict_ngram(texts.tolist(), state["n"]))

    return predict


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
    bc = spark.sparkContext.broadcast((language_profiles, smoothing))
    state: dict = {}

    @F.pandas_udf(T.StringType())
    def predict(texts: pd.Series) -> pd.Series:
        if "m" not in state:
            from ..oracle.reference import CharFrequency

            profiles, sm = bc.value
            m = CharFrequency(smoothing=sm)
            m.language_profiles = profiles
            state["m"] = m
        # P6 str coercion at the serving boundary: NULL text scores as ""
        # (the reference never sees nulls; its math stays untouched).
        return pd.Series(state["m"].predict(texts.fillna("").tolist()))

    return predict


def make_cavnar_trenkle_predict_udf(spark: SparkSession, profiles: dict, max_profile_size: int = 400):
    bc = spark.sparkContext.broadcast(profiles)
    state: dict = {}

    @F.pandas_udf(T.StringType())
    def predict(texts: pd.Series) -> pd.Series:
        if "m" not in state:
            from ..oracle.reference import CavnarTrenkle

            m = CavnarTrenkle(max_profile_size=max_profile_size)
            m.language_profiles = bc.value
            state["m"] = m
        return pd.Series(state["m"].predict(texts.fillna("").tolist()))

    return predict


def make_dunning_predict_udf(spark: SparkSession, language_models: dict, smoothing: float = 0.5):
    bc = spark.sparkContext.broadcast((language_models, smoothing))
    state: dict = {}

    @F.pandas_udf(T.StringType())
    def predict(texts: pd.Series) -> pd.Series:
        if "m" not in state:
            from ..oracle.reference import Dunning

            models, sm = bc.value
            m = Dunning(smoothing=sm)
            m.language_models = models
            state["m"] = m
        return pd.Series(m_predict(state["m"], texts))

    def m_predict(m, texts):
        return m.predict(texts.fillna("").tolist())

    return predict


# ---------------------------------------------------------------------------
# Pure-relational n-gram scorer (J1) — DuckDB-checkable.
# ---------------------------------------------------------------------------
def score_ngram_relational(
    docs: DataFrame,
    model: DataFrame,
    n: int,
    smoothing: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, lang_pred) via explode → broadcast join → sum(log) → max_by.

    Inner join ⇒ unseen n-grams contribute nothing (the reference quirk,
    statistical_models.py:44-45). Ties broken by first lang in sorted order
    via max_by on (score, lang) struct ordering — matches the oracle's
    pinned sorted-langs iteration.
    """
    grams = docs.select(
        F.col(id_col), F.explode(char_ngrams(F.col(text_col), n)).alias("ngram")
    ).groupBy(id_col, "ngram").agg(F.count("*").alias("tf"))
    scored = (
        grams.join(F.broadcast(model), "ngram")
        .groupBy(id_col, "lang")
        .agg(F.sum(F.col("tf") * F.log(F.col("prob") + F.lit(smoothing))).alias("score"))
    )
    # argmax with lexicographically-smallest lang on exact ties (the oracle
    # iterates sorted langs and Python max keeps the first maximum).
    return scored.groupBy(id_col).agg(
        F.expr("min_by(lang, struct(-score, lang))").alias("lang_pred")
    )
