"""The flagship quality-filter pipeline (north_rule):

    pages(url, warc_ts, html, text, lang)
      → normalize → langid (hashed-ngram NB, broadcast)
      → perplexity (bigram LM, broadcast)
      → Gopher/C4 heuristic features
      → PII/toxicity scrub (compiled regex)
      → keep/drop

Execution shape at scale: training is two groupBy shuffles over the train
split (exact integer counts); serving is a SINGLE narrow map stage — one
pandas UDF computes (lang_pred, lang_conf, perplexity, scrubbed_text) and
every heuristic feature per Arrow batch (one Python round trip per batch,
numbers back instead of a second copy of the text), then the keep
predicate stays JVM-side. No shuffle touches the 100 TB side after the
scan.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scrub import scrub_series
from ..functions.text import QUALITY_FEATURE_STRUCT, py_quality_features_batch
from ..models.hashed_ngram import DIM, HashedNgramNB, featurize_counts_pdf
from ..models.perplexity import BigramLM, bigram_counts_pdf
from ..session import ship_package
from .rules import keep_expr

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


def train_quality_models(
    train_df: DataFrame,
    dim: int = DIM,
    stopwords: tuple[str, ...] | None = None,
) -> QualityModels:
    """Train both models with two distributed aggregations.

    ``train_df`` must have (text, lang); text is normalized inside the
    featurizers (they lowercase; padding conventions are theirs).
    Counts are exact integers ⇒ the resulting float model is identical
    regardless of partitioning (SURVEY.md §7.3 float-determinism rule).
    """
    # Caller may supply any SparkSession (the driver does): the UDF/
    # mapInPandas closures below reference package modules, so the package
    # zip must be on the executors' python path.
    ship_package(train_df.sparkSession)
    src = train_df.select("text", "lang")

    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        # Python-semantics strip (same as the oracle / serving UDF); Spark's
        # trim() only strips ' ' so normalization stays Python-side.
        return pdf.assign(text=pdf["text"].fillna("").str.strip())

    bucket_counts = (
        src.mapInPandas(
            lambda it: (featurize_counts_pdf(_norm(pdf), dim) for pdf in it),
            schema="lang string, bucket long, cnt long",
        )
        .groupBy("lang", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
    )
    doc_counts = {
        r["lang"]: r["n"] for r in src.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    langid = HashedNgramNB.from_counts(bucket_counts, doc_counts, dim=dim)

    bg_counts = (
        src.select("text")
        .mapInPandas(lambda it: (bigram_counts_pdf(_norm(pdf)) for pdf in it),
                     schema="cur string, nxt string, cnt long")
        .groupBy("cur", "nxt")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
    )
    lm = BigramLM.from_counts(bg_counts)
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
    one Arrow pass (:func:`make_fused_udf`) and the JVM keep predicate.

    ``heuristics`` has one legal value, ``'fused'``; anything else raises
    ``ValueError``.
    """
    if heuristics != "fused":
        raise ValueError(f"unknown heuristics shape: {heuristics!r} (only 'fused')")
    score = make_fused_udf(spark, models)
    out = pages.withColumn("_s", score(F.col("text"))).select(
        *[c for c in pages.columns if c not in ("html",)], "_s.*"
    )
    return out.withColumn("keep", keep_expr())
