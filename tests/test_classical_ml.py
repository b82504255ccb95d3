"""MLlib classical-ML family (reference src/models/classical_ml.py, A13).

Parity with the reference is accuracy-level (vocab tie-breaking and idf
formula differ between sklearn and MLlib — documented in the module); the
reference publishes 0.97-0.99 on its corpus, we require ≥ 0.95 on the
separable synthetic corpus for the two fast families.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.models.classical_ml import (
    MODEL_CONFIGS,
    predict_classical,
    train_classical,
)


@pytest.fixture(scope="module")
def split_dfs(spark, pages_pdf):
    pdf = pages_pdf[["text", "lang", "split"]].copy()
    pdf["text"] = pdf["text"].str.strip()
    pdf = pdf[pdf["text"].str.len() > 0]
    df = spark.createDataFrame(pdf)
    return df.filter("split = 'train'"), df.filter("split = 'test'")


@pytest.mark.parametrize("model_name", ["nb_tfidf", "nb_bigram", "lr_tfidf"])
def test_classical_accuracy(split_dfs, model_name):
    train, test = split_dfs
    model = train_classical(train, model_name, vocab_size=20000)
    pred = predict_classical(model, test)
    acc = pred.select(
        F.avg((F.col("lang") == F.col("lang_pred")).cast("double")).alias("a")
    ).first()["a"]
    assert acc >= 0.95, (model_name, acc)
    assert set(pred.columns) >= {"text", "lang", "lang_pred"}


def test_all_configs_build():
    from language_identification_spark.models.classical_ml import build_pipeline

    for name in MODEL_CONFIGS:
        build_pipeline(name)


@pytest.mark.parametrize("model_name", ["rf_tfidf", "lr_tfidf", "svm_unigram"])
def test_feature_importances(spark, split_dfs, model_name):
    """A14: RF featureImportances / mean |coef| top-k export is a ranked,
    deterministic, vocabulary-decoded table."""
    from language_identification_spark.models.classical_ml import feature_importances

    train, _ = split_dfs
    model = train_classical(train, model_name, vocab_size=500)
    imp = feature_importances(spark, model, top_k=10)
    rows = imp.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert 0 < len(rows) <= 10
    vals = [r["importance"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(isinstance(r["term"], str) and r["term"] for r in rows)
    # Deterministic retrain → same (term, rank) table, for models whose
    # term→importance map is invariant under vocabulary index permutation
    # (linear models). RF feature-subsamples BY INDEX, and CountVectorizer's
    # equal-count tie order varies run-to-run, so RF rankings can drift.
    if model_name != "rf_tfidf":
        again = feature_importances(
            spark, train_classical(train, model_name, vocab_size=500), top_k=10
        ).orderBy("rank").collect()
        assert [(r["term"], r["rank"]) for r in again] == [(r["term"], r["rank"]) for r in rows]


def test_feature_importances_golden(spark):
    """Value pin for the rows-only `feature_importances_topk` gate: the
    sf0.01 RF (seed pinned in `_classifier`) must reproduce the committed
    golden top-20 exactly — eliminating the one gate the DuckDB oracle
    can't see into (iterative ensemble training has no SQL form). Pinned at
    sf0.01 because that is the scale the driver's gate runs at."""
    import os

    import pandas as pd

    import __spark_entry__ as entrymod

    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "feature_importances_sf001.parquet"
    )
    got = (
        entrymod.queries()["feature_importances_topk"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .reset_index(drop=True)
    )
    want = pd.read_parquet(golden_path)
    pd.testing.assert_frame_equal(got, want)


def test_classical_null_text(spark):
    """Training skips a NULL text, as the other trainers do (MLlib's
    CountVectorizer raises "tokens is null" on a NULL gram array), and
    prediction scores a NULL text as "" and keeps it NULL in the output."""
    rows = [("hello world", "en"), ("hallo welt", "de"), (None, "en"), ("the cat", "en")]
    df = spark.createDataFrame(rows, "text string, lang string")
    model = train_classical(df, "nb_unigram", vocab_size=100)
    want = train_classical(df.filter("text IS NOT NULL"), "nb_unigram", vocab_size=100)
    # CountVectorizer's equal-count tie order varies run to run
    assert sorted(model.stages[1].vocabulary) == sorted(want.stages[1].vocabulary)
    assert (model.stages[-1].pi.toArray() == want.stages[-1].pi.toArray()).all()

    probe = spark.createDataFrame([(0, None), (1, "")], "id int, text string")
    got = {r["id"]: (r["text"], r["lang_pred"]) for r in predict_classical(model, probe).collect()}
    assert got[0] == (None, got[1][1])
