"""Model-table parity: Spark groupBy-agg trainers vs the pure-Python oracle
(SURVEY.md §5.2 item 2). Probabilities, profiles and predictions must agree
exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.models import score as sc
from language_identification_spark.models import train as tr
from language_identification_spark.oracle import reference as ref


@pytest.fixture(scope="module")
def corpus(pages_pdf):
    pdf = pages_pdf[["text", "lang", "split"]].copy()
    pdf["text"] = pdf["text"].str.strip()
    pdf = pdf[pdf["text"].str.len() > 0].reset_index(drop=True)
    pdf["doc_idx"] = range(len(pdf))
    return pdf


@pytest.fixture(scope="module")
def corpus_df(spark, corpus):
    return spark.createDataFrame(corpus)


@pytest.fixture(scope="module")
def train_pdf(corpus):
    return corpus[corpus["split"] == "train"].reset_index(drop=True)


@pytest.fixture(scope="module")
def test_pdf(corpus):
    return corpus[corpus["split"] == "test"].reset_index(drop=True)


@pytest.fixture(scope="module")
def train_df(corpus_df):
    return corpus_df.filter(F.col("split") == "train")


def _assert_prob_dicts_equal(spark_dict, oracle_dict):
    assert set(spark_dict) == set(oracle_dict)
    for lang in oracle_dict:
        assert spark_dict[lang] == oracle_dict[lang], lang


def test_ngram_lm_parity(train_df, train_pdf):
    for n in (1, 2):
        m = ref.NgramLM(n=n)
        m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
        spark_tbl = tr.train_ngram_lm(train_df, n=n)
        d = tr.model_table_to_dict(spark_tbl, "ngram")
        _assert_prob_dicts_equal(d, m.language_models)


def test_char_freq_parity(train_df, train_pdf):
    m = ref.CharFrequency()
    m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    d = tr.model_table_to_dict(tr.train_char_freq(train_df), "char_freq")
    _assert_prob_dicts_equal(d, m.language_profiles)


def test_case_folding_follows_the_reference(spark):
    """Char-freq and Dunning training fold case as the reference does
    (Python str.lower), also on codepoints whose case mapping is newer
    than CPython's Unicode database: U+A7CB 'Ɤ', U+10D50 and U+1C89
    (Spark's ICU lower() maps U+A7CB to U+0264)."""
    rows = [
        ("en", "Hello World \ua7cb"),
        ("en", "ΟΔΟΣ ΣΟΦΟΣ. İstanbul"),
        ("de", "Straße \U00010d50\U00010d50 ẞ"),
        ("de", "plain text"),
        ("xx", "\u1c89 mixed \ua7cb\u1c89 Case"),
    ]
    texts = [t for _, t in rows]
    labels = [lang for lang, _ in rows]
    df = spark.createDataFrame(rows, "lang string, text string")

    cf = ref.CharFrequency()
    cf.train(texts, labels)
    got = tr.model_table_to_dict(tr.train_char_freq(df), "char_freq")
    _assert_prob_dicts_equal(got, cf.language_profiles)

    dn = ref.Dunning()
    dn.train(texts, labels)
    got = tr.model_table_to_dict(tr.train_dunning(df), "dunning")
    _assert_prob_dicts_equal(got, dn.language_models)


def test_markov_parity(train_df, train_pdf):
    m = ref.MarkovChain()
    m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    d = tr.model_table_to_dict(tr.train_markov(train_df), "markov")
    _assert_prob_dicts_equal(d, m.language_models)


def test_cavnar_trenkle_parity(train_df, train_pdf):
    m = ref.CavnarTrenkle()
    m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    d = tr.model_table_to_dict(tr.train_cavnar_trenkle(train_df), "cavnar_trenkle")
    assert d == m.language_profiles


def test_cavnar_trenkle_skips_null_text(spark, train_df):
    """A NULL text adds nothing to its language's profile, as the DuckDB
    twin's ``string_agg`` skips it; the ' '-join used to raise on it."""
    nulls = train_df.limit(3).select(
        F.lit(None).cast("string").alias("text"),
        "lang",
        "split",
        (F.col("doc_idx") + F.lit(0.5)).cast("double").alias("doc_idx"),
    )
    with_null = train_df.withColumn("doc_idx", F.col("doc_idx").cast("double"))
    got = tr.model_table_to_dict(
        tr.train_cavnar_trenkle(with_null.unionByName(nulls)), "cavnar_trenkle"
    )
    want = tr.model_table_to_dict(tr.train_cavnar_trenkle(train_df), "cavnar_trenkle")
    assert got == want


def test_dunning_parity(train_df, train_pdf):
    m = ref.Dunning()
    m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    d = tr.model_table_to_dict(tr.train_dunning(train_df), "dunning")
    _assert_prob_dicts_equal(d, m.language_models)


def test_prediction_parity_udf(spark, corpus_df, train_pdf, test_pdf):
    """Spark UDF predictions == oracle predictions, per model family."""
    texts, labels = train_pdf["text"].tolist(), train_pdf["lang"].tolist()
    test_df = corpus_df.filter(F.col("split") == "test")

    ng = ref.NgramLM(n=1)
    ng.train(texts, labels)
    udf = sc.make_ngram_predict_udf(spark, ng.language_models, 1, ng.smoothing)
    got = {
        r["doc_idx"]: r["p"]
        for r in test_df.select("doc_idx", udf(F.col("text")).alias("p")).collect()
    }
    want = dict(zip(test_pdf["doc_idx"], ng.predict(test_pdf["text"].tolist())))
    assert got == want

    cf = ref.CharFrequency()
    cf.train(texts, labels)
    udf = sc.make_char_freq_predict_udf(spark, cf.language_profiles, cf.smoothing)
    got = {
        r["doc_idx"]: r["p"]
        for r in test_df.select("doc_idx", udf(F.col("text")).alias("p")).collect()
    }
    want = dict(zip(test_pdf["doc_idx"], cf.predict(test_pdf["text"].tolist())))
    assert got == want

    mk = ref.MarkovChain()
    mk.train(texts, labels)
    udf = sc.make_markov_predict_udf(spark, mk.language_models, mk.smoothing)
    got = {
        r["doc_idx"]: r["p"]
        for r in test_df.select("doc_idx", udf(F.col("text")).alias("p")).collect()
    }
    want = dict(zip(test_pdf["doc_idx"], mk.predict(test_pdf["text"].tolist())))
    assert got == want


def test_relational_ngram_scorer_matches_oracle(spark, corpus_df, train_pdf, test_pdf):
    ng = ref.NgramLM(n=1)
    ng.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    model_df = tr.train_ngram_lm(corpus_df.filter(F.col("split") == "train"), n=1)
    out = sc.score_ngram_relational(
        corpus_df.filter(F.col("split") == "test"), model_df, n=1,
        smoothing=ng.smoothing, id_col="doc_idx",
    )
    got = {r["doc_idx"]: r["lang_pred"] for r in out.collect()}
    want = dict(zip(test_pdf["doc_idx"], ng.predict(test_pdf["text"].tolist())))
    assert got == want


# registry predict query → (reference model, scored docs: all or doc_id < 300)
PREDICT_GATES = {
    "ngram_lm_predict": (lambda: ref.NgramLM(n=1), None),
    "markov_predict": (ref.MarkovChain, 300),
    "char_freq_predict": (ref.CharFrequency, 300),
    "cavnar_predict": (ref.CavnarTrenkle, 300),
    "dunning_predict": (ref.Dunning, 300),
}


@pytest.mark.parametrize("name", sorted(PREDICT_GATES))
def test_predict_gate_matches_reference(spark, sf_dir, name):
    """Each DuckDB-gated registry predict query equals its reference
    model's ``predict`` exactly, trained on the same docs in doc_id
    order — so the DuckDB oracle and the reference math are pinned to
    each other through the one serving scorer."""
    import pandas as pd

    import __spark_entry__ as entrymod

    make, head = PREDICT_GATES[name]
    docs = (
        pd.read_parquet(f"{sf_dir}/documents.parquet")
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    m = make()
    m.train(docs["text"].tolist(), docs["lang"].tolist())
    sub = docs if head is None else docs[docs["doc_id"] < head]
    want = dict(zip(sub["doc_id"], m.predict(sub["text"].tolist())))
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in entrymod.queries()[name](spark, sf_dir).collect()
    }
    assert got == want


def test_oracle_separates_languages(train_pdf, test_pdf):
    """Sanity: synthetic languages are separable by the reference models."""
    m = ref.CharFrequency()
    m.train(train_pdf["text"].tolist(), train_pdf["lang"].tolist())
    preds = m.predict(test_pdf["text"].tolist())
    acc = (test_pdf["lang"].to_numpy() == preds).mean()
    assert acc > 0.9, acc

