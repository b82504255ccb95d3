"""The flagship quality-filter pipeline (north_rule):

    pages(url, warc_ts, html, text, lang)
      → normalize → langid (hashed-ngram NB, broadcast)
      → perplexity (bigram LM, broadcast)
      → Gopher/C4 heuristic features
      → PII/toxicity scrub (compiled regex)
      → drop_reason (first failing rule, NULL = kept) → keep

Execution shape at scale: training is ONE pass over the train split (one
mapInPandas emits every model's exact integer partial counts, one groupBy
shuffle totals them, one collect); serving is a SINGLE narrow map stage —
one pandas UDF computes (lang_pred, lang_conf, perplexity, scrubbed_text) and
every heuristic feature per Arrow batch (one Python round trip per batch,
numbers back instead of a second copy of the text), then the rule CASE
stays JVM-side: ``drop_reason`` is compiled once and ``keep`` is
``drop_reason IS NULL``. No shuffle touches the 100 TB side after the
scan.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scrub import scrub_series
from ..functions.text import QUALITY_FEATURE_STRUCT, py_quality_features_batch
from ..models.hashed_ngram import DIM, HashedNgramNB, featurize_counts_pdf
from ..models.perplexity import BigramLM, bigram_frame, bigram_key_counts
from ..session import ship_package
from .rules import drop_reason_expr

FUSED_STRUCT = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("lang_conf", T.DoubleType()),
        T.StructField("perplexity", T.DoubleType()),
        T.StructField("scrubbed_text", T.StringType()),
    ]
    + QUALITY_FEATURE_STRUCT.fields
)


@dataclass
class QualityModels:
    """Everything the serving UDF needs, broadcast once per executor —
    including the stop-word lexicon: at production scale that list is
    10k+ words per language, and riding the model broadcast (instead of
    being inlined into the plan as a literal) is the correct transport.
    The per-doc oracle (``oracle/pipeline.run_oracle_pipeline``) takes
    the same tuple, so the two stay bit-identical."""

    langid: HashedNgramNB
    lm: BigramLM
    stopwords: tuple[str, ...] | None = None  # None → rules.default_stopwords()


# One schema for every training partial: kind 0 = NB bucket count keyed
# (lang, bucket), kind 1 = bigram count keyed by the packed codepoint pair
# (lang NULL), kind 2 = row count per language (key 0).
_NB, _BIGRAM, _DOCS = 0, 1, 2
_PARTIAL_SCHEMA = "kind int, lang string, key long, cnt long"


def training_partials_pdf(pdf: pd.DataFrame, dim: int = DIM) -> pd.DataFrame:
    """(text, lang) batch → every model's partial counts in
    ``_PARTIAL_SCHEMA``, from ONE normalization of the batch."""
    # Python-semantics strip (same as the oracle / serving UDF); Spark's
    # trim() only strips ' ' so normalization stays Python-side.
    norm = pdf.assign(text=pdf["text"].fillna("").str.strip())
    nb = featurize_counts_pdf(norm, dim)
    keys, cnts = bigram_key_counts(norm["text"])
    docs = norm["lang"].value_counts(dropna=False)
    return pd.DataFrame(
        {
            "kind": np.repeat([_NB, _BIGRAM, _DOCS], [len(nb), len(keys), len(docs)]),
            "lang": pd.concat(
                [nb["lang"], pd.Series([None] * len(keys)), docs.index.to_series()],
                ignore_index=True,
            ),
            "key": np.concatenate([nb["bucket"], keys.astype(np.int64),
                                   np.zeros(len(docs), dtype=np.int64)]),
            "cnt": np.concatenate([nb["cnt"], cnts, docs.to_numpy()]),
        }
    )


def train_quality_models(
    train_df: DataFrame,
    dim: int = DIM,
    stopwords: tuple[str, ...] | None = None,
) -> QualityModels:
    """Train both models from ONE pass over the train split.

    One ``mapInPandas`` (:func:`training_partials_pdf`) emits the NB
    bucket, bigram and per-language row-count partials of each Arrow
    batch; one ``groupBy(kind, lang, key).sum`` totals them and one
    ``toPandas`` brings the (small) totals to the driver, which splits
    them by kind. ``train_df`` must have (text, lang); text is normalized
    inside the pass (the featurizers lowercase; padding conventions are
    theirs). A NULL ``lang`` raises ``ValueError``.
    Counts are exact integers ⇒ the resulting float model is identical
    regardless of partitioning (SURVEY.md §7.3 float-determinism rule).
    """
    # Caller may supply any SparkSession (the driver does): the
    # mapInPandas closure references package modules, so the package zip
    # must be on the executors' python path.
    ship_package(train_df.sparkSession)
    totals = (
        train_df.select("text", "lang")
        .mapInPandas(
            lambda it: (training_partials_pdf(pdf, dim) for pdf in it),
            schema=_PARTIAL_SCHEMA,
        )
        .groupBy("kind", "lang", "key")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
    )
    by_kind = {k: totals[totals["kind"] == k] for k in (_NB, _BIGRAM, _DOCS)}
    docs = by_kind[_DOCS]
    langid = HashedNgramNB.from_counts(
        by_kind[_NB].rename(columns={"key": "bucket"})[["lang", "bucket", "cnt"]],
        dict(zip(docs["lang"], docs["cnt"].tolist())),
        dim=dim,
    )
    bigrams = by_kind[_BIGRAM]
    lm = BigramLM.from_counts(bigram_frame(bigrams["key"], bigrams["cnt"]))
    return QualityModels(langid=langid, lm=lm, stopwords=stopwords)


def make_fused_udf(spark: SparkSession, models: QualityModels):
    """The serving UDF: scoring + scrub + heuristic features in ONE Arrow
    pass, returning numbers instead of a second full-text column.

    The broadcast is deserialized once per Python worker process (module
    cache + spark.python.worker.reuse), never per batch.
    """
    ship_package(spark)
    bc = spark.sparkContext.broadcast(models)
    state: dict = {}

    @F.pandas_udf(FUSED_STRUCT)
    def score(texts: pd.Series) -> pd.DataFrame:
        if "m" not in state:
            state["m"] = bc.value
        m: QualityModels = state["m"]
        norm = texts.fillna("").str.strip()
        labels, confs = m.langid.predict_labels(norm.tolist())
        ppl = m.lm.perplexity_batch(norm.tolist())
        feats = py_quality_features_batch(norm, m.stopwords)
        return pd.DataFrame(
            {
                "lang_pred": labels,
                "lang_conf": confs,
                "perplexity": ppl,
                "scrubbed_text": scrub_series(norm),
                **feats,
            }
        )

    return score


def run_quality_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    models: QualityModels,
    heuristics: str = "fused",
) -> DataFrame:
    """pages → scored/filtered output. Narrow (no shuffle) after the scan:
    one Arrow pass (:func:`make_fused_udf`), the JVM ``drop_reason`` CASE
    and ``keep = drop_reason IS NULL``. The output keeps every input
    column except ``html`` and the raw ``text``: the page is served as
    ``scrubbed_text``, so the PII the scrub removed is not stored beside it.

    ``heuristics`` has one legal value, ``'fused'``; anything else raises
    ``ValueError``.
    """
    if heuristics != "fused":
        raise ValueError(f"unknown heuristics shape: {heuristics!r} (only 'fused')")
    score = make_fused_udf(spark, models)
    out = pages.withColumn("_s", score(F.col("text"))).select(
        *[c for c in pages.columns if c not in ("html", "text")], "_s.*"
    )
    return out.withColumn("drop_reason", drop_reason_expr()).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
