"""Classical-ML langid family on pyspark.ml — the MLlib re-expression of
/root/reference/src/models/classical_ml.py:43-106 (sklearn pipelines:
char CountVectorizer/TfidfVectorizer → {MultinomialNB, LinearSVC,
RandomForest, LogisticRegression}).

Mapping (SURVEY.md §2.3 A13):
- ``analyzer='char', ngram_range=(a,b)``  → char n-gram arrays built with
  a SQLTransformer over the same sequence/substring expression the rest of
  the engine uses (JVM-side, no Python).
- ``CountVectorizer(max_features=50000)`` → ``ml.feature.CountVectorizer
  (vocabSize=50000)``. sklearn breaks frequency ties alphabetically, MLlib
  by hash order — vocabulary edges can differ, so parity with the
  reference is accuracy-level (≥ its published 0.96-0.99 on separable
  data), not bit-level. The bit-level langid path is models/hashed_ngram.
- ``TfidfVectorizer`` → CountVectorizer + ``ml.feature.IDF`` (MLlib idf =
  log((N+1)/(df+1)), sklearn's smooth_idf adds +1 to the log — a
  monotone per-term shift; rankings differ slightly, documented).
- ``LabelEncoder`` (sorts classes) → ``StringIndexer(alphabetAsc)`` +
  ``IndexToString``.
- LinearSVC is binary in MLlib → wrapped in ``OneVsRest`` (sklearn's
  LinearSVC is itself one-vs-rest).

Training is distributed (MLlib fit = the same explode/agg shuffles under
the hood); serving via ``PipelineModel.transform`` is a narrow map.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    LinearSVC,
    LogisticRegression,
    NaiveBayes,
    OneVsRest,
    RandomForestClassifier,
)
from pyspark.ml.feature import IDF, CountVectorizer, IndexToString, SQLTransformer, StringIndexer
from pyspark.sql import DataFrame

from ..functions.text import char_ngrams_sql

# reference configs.yaml:1-14
MODEL_CONFIGS = {
    "nb_unigram": {"ngram_range": (1, 1), "tfidf": False, "clf": "nb"},
    "nb_bigram": {"ngram_range": (2, 2), "tfidf": False, "clf": "nb"},
    "nb_tfidf": {"ngram_range": (1, 3), "tfidf": True, "clf": "nb"},
    "svm_unigram": {"ngram_range": (1, 1), "tfidf": False, "clf": "svm"},
    "svm_tfidf": {"ngram_range": (1, 3), "tfidf": True, "clf": "svm"},
    "rf_tfidf": {"ngram_range": (1, 3), "tfidf": True, "clf": "rf"},
    "lr_tfidf": {"ngram_range": (1, 3), "tfidf": True, "clf": "lr"},
}
VOCAB_SIZE = 50_000  # configs.yaml max_features


def _grams_sql(ngram_range: tuple[int, int]) -> str:
    """SQL building one array of all n-grams for n in [a, b] over
    lower(text) — reference padding, same expression family as the
    statistical trainers. A NULL text scores as "", the rule of the
    broadcast-model scorers."""
    parts = [char_ngrams_sql("lower(coalesce(text, ''))", n) for n in
             range(ngram_range[0], ngram_range[1] + 1)]
    arr = parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"
    return f"SELECT *, {arr} AS grams FROM __THIS__"


def _classifier(kind: str):
    if kind == "nb":
        return NaiveBayes(modelType="multinomial", smoothing=1.0,
                          featuresCol="features", labelCol="label")
    if kind == "lr":
        return LogisticRegression(maxIter=100, featuresCol="features", labelCol="label")
    if kind == "svm":
        return OneVsRest(classifier=LinearSVC(maxIter=50),
                         featuresCol="features", labelCol="label")
    if kind == "rf":
        # explicit seed: the MLlib default is deterministic but the
        # bootstrap is partition-indexed — pin it so the committed golden
        # importances table stays reproducible across layouts
        return RandomForestClassifier(numTrees=50, maxDepth=12, seed=7,
                                      featuresCol="features", labelCol="label")
    raise ValueError(kind)


def build_pipeline(model_name: str, vocab_size: int = VOCAB_SIZE) -> Pipeline:
    cfg = MODEL_CONFIGS[model_name]
    stages = [
        SQLTransformer(statement=_grams_sql(cfg["ngram_range"])),
        CountVectorizer(inputCol="grams", outputCol="tf", vocabSize=vocab_size),
    ]
    if cfg["tfidf"]:
        stages.append(IDF(inputCol="tf", outputCol="features"))
    else:
        stages.append(SQLTransformer(statement="SELECT *, tf AS features FROM __THIS__"))
    stages.append(
        StringIndexer(inputCol="lang", outputCol="label",
                      stringOrderType="alphabetAsc")  # sklearn LabelEncoder order
    )
    stages.append(_classifier(cfg["clf"]))
    return Pipeline(stages=stages)


def train_classical(train_df: DataFrame, model_name: str,
                    vocab_size: int = VOCAB_SIZE) -> PipelineModel:
    """train_df: (text, lang). Returns a fitted PipelineModel. NULL texts
    are skipped, as the other trainers skip them."""
    return build_pipeline(model_name, vocab_size).fit(train_df.filter("text IS NOT NULL"))


def feature_importances(spark, model: PipelineModel, top_k: int = 20) -> DataFrame:
    """(term, importance, rank) — the reference's feature-importance export
    (/root/reference/src/models/classical_ml.py:216-255): RandomForest
    ``featureImportances`` directly, or mean |coefficient| across classes
    for linear models (LogisticRegression coefficientMatrix, OneVsRest of
    LinearSVC per-class coefficients). Ties break by term ascending, so the
    top-k is deterministic. The model table is tiny (vocab-bounded) — a
    driver-side build + createDataFrame is the right shape."""
    import numpy as np

    cv = next(s for s in model.stages if hasattr(s, "vocabulary"))
    clf = model.stages[-1]
    if hasattr(clf, "featureImportances"):  # RandomForestClassificationModel
        imp = clf.featureImportances.toArray()
    elif hasattr(clf, "coefficientMatrix"):  # LogisticRegressionModel
        imp = np.abs(clf.coefficientMatrix.toArray()).mean(axis=0)
    elif hasattr(clf, "models"):  # OneVsRestModel (LinearSVC)
        imp = np.abs(np.stack([m.coefficients.toArray() for m in clf.models])).mean(axis=0)
    else:
        raise ValueError(f"no importances/coefficients on {type(clf).__name__}")
    vocab = cv.vocabulary
    ranked = sorted(
        ((float(imp[i]), vocab[i]) for i in range(min(len(vocab), len(imp)))),
        key=lambda t: (-t[0], t[1]),
    )[:top_k]
    return spark.createDataFrame(
        [(term, v, r + 1) for r, (v, term) in enumerate(ranked)],
        "term string, importance double, rank int",
    )


def predict_classical(model: PipelineModel, df: DataFrame) -> DataFrame:
    """→ input columns + ``lang_pred`` (decoded back to language codes)."""
    indexer = model.stages[-2]  # the fitted StringIndexerModel
    decode = IndexToString(inputCol="prediction", outputCol="lang_pred",
                           labels=indexer.labels)
    out = decode.transform(model.transform(df))
    return out.drop("grams", "tf", "features", "rawPrediction", "probability", "prediction", "label")
