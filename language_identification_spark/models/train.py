"""Distributed model training as DataFrame groupBy-aggregate pipelines.

Each trainer turns a reference model's dict-building loop into ONE shuffle
(explode → hash-aggregate → window-normalize), replacing the reference's
O(L·N) per-language scans (/root/reference/src/models/statistical_models.py:19
"for label in unique_labels: [t for t,l in zip(...) if l==label]").

Model tables are small (≤ a few hundred thousand rows) and are collected +
broadcast for serving; at 100 TB the *training* input is the big side and
these plans keep it to a single pass.

Smoothing quirk replicated exactly (SURVEY.md §2.3 A3): the reference's
``defaultdict(lambda: smoothing)`` means every *seen* key carries
``count + smoothing`` and the normalization total gains one ``smoothing``
per distinct key ⇒ prob = (cnt + s) / (Σcnt + s·|keys|).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ngramcount import (
    char_ngram_counts,
    grouped_gram_counts,
    keyed_texts,
    rank_profile,
)

NGRAM_SMOOTHING = 1e-8   # statistical_models.py:8
CHARFREQ_SMOOTHING = 1e-10  # statistical_models.py:52
MARKOV_SMOOTHING = 1e-10    # statistical_models.py:102
DUNNING_SMOOTHING = 0.5     # lieterature.py:61


def train_ngram_lm(
    df: DataFrame, n: int = 1, smoothing: float = NGRAM_SMOOTHING,
    text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """(lang, ngram, prob) — char n-gram LM (statistical_models.py:14-32).

    Counts via the vectorized partial-count pass (functions/ngramcount,
    r7): exact integer totals identical to the explode → groupBy form,
    so the normalized probabilities are bit-identical."""
    counts = char_ngram_counts(
        df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("text")),
        n, key_col="lang", lower=False, pad=True,
    )
    w = Window.partitionBy("lang")
    total = F.sum("cnt").over(w) + F.lit(smoothing) * F.count("*").over(w)
    return counts.select(
        "lang", "ngram", ((F.col("cnt") + F.lit(smoothing)) / total).alias("prob")
    )


def train_char_freq(
    df: DataFrame, smoothing: float = CHARFREQ_SMOOTHING,
    text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """(lang, char, prob) — char profile of the Python-``str.lower``ed
    text (statistical_models.py:57-74)."""
    counts = char_ngram_counts(
        df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("text")),
        1, key_col="lang", lower=True, pad=False, gram_col="char",
    )
    w = Window.partitionBy("lang")
    total = F.sum("cnt").over(w) + F.lit(smoothing) * F.count("*").over(w)
    return counts.select(
        "lang", "char", ((F.col("cnt") + F.lit(smoothing)) / total).alias("prob")
    )


def train_markov(
    df: DataFrame, smoothing: float = MARKOV_SMOOTHING,
    text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """(lang, cur, nxt, prob) — transition LM, normalized per (lang, cur)
    (statistical_models.py:107-129). Padding is '_text_' (n=2 grams of the
    single-underscore-padded text)."""
    # a bigram string IS its (cur, nxt) pair, so per-(lang, bigram)
    # counts are per-(lang, cur, nxt) counts — split on the SMALL count
    # table, not per occurrence
    counts = char_ngram_counts(
        df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("text")),
        2, key_col="lang", lower=False, pad=True, gram_col="bg",
    ).select(
        "lang",
        F.substring("bg", 1, 1).alias("cur"),
        F.substring("bg", 2, 1).alias("nxt"),
        "cnt",
    )
    w = Window.partitionBy("lang", "cur")
    total = F.sum("cnt").over(w) + F.lit(smoothing) * F.count("*").over(w)
    return counts.select(
        "lang", "cur", "nxt",
        ((F.col("cnt") + F.lit(smoothing)) / total).alias("prob"),
    )


def train_cavnar_trenkle(
    df: DataFrame, max_profile_size: int = 400,
    text_col: str = "text", lang_col: str = "lang", order_col: str = "doc_idx",
    max_chars_per_lang: int | None = None,
) -> DataFrame:
    """(lang, ngram, cnt, rank) — top-400 1..5-gram rank profile.

    The reference trains on the ' '-joined concatenation of a language's
    texts *in dataset order* (lieterature.py:28), so cross-document n-grams
    exist and order matters — inherently sequential per language. We
    distribute per-language with ``applyInPandas`` (one group per lang;
    profiles are tiny) and build each profile with the whole-array numpy
    kernel ``functions.ngramcount.rank_profile`` — no per-character
    Python loop — pinned equal to the oracle's ``ct_profile``.

    ``max_chars_per_lang`` is the SCALE mode: exact concatenation puts a
    whole language's corpus in one executor's Python string (at web scale
    "English" is half the corpus — OOM by design), so the bounded mode
    keeps only the deterministic dataset-order PREFIX of each language up
    to the char budget before concatenating (a cumulative-length window;
    the first document always survives). Rank profiles saturate quickly —
    top-400 n-grams of a few MB of text match the full-corpus profile in
    practice — and ``None`` keeps the exact reference semantics.
    """
    if max_chars_per_lang is not None:
        w = (
            Window.partitionBy(lang_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prior = F.coalesce(F.sum(F.length(text_col)).over(w), F.lit(0))
        df = (
            df.withColumn("_prior_chars", prior)
            .filter(F.col("_prior_chars") < max_chars_per_lang)
            .drop("_prior_chars")
        )

    def build(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col)
        # NULL texts join as nothing, as string_agg skips them
        combined = " ".join(pdf[text_col].dropna().tolist())
        prof = rank_profile(combined, max_profile_size)
        return pd.DataFrame(
            {
                "lang": pdf[lang_col].iloc[0],
                "ngram": [g for g, _ in prof],
                "cnt": [c for _, c in prof],
                "rank": range(len(prof)),
            }
        )

    return (
        df.select(lang_col, order_col, text_col)
        .groupBy(lang_col)
        .applyInPandas(build, schema="lang string, ngram string, cnt long, rank long")
    )


def train_dunning(
    df: DataFrame, smoothing: float = DUNNING_SMOOTHING,
    text_col: str = "text", lang_col: str = "lang",
) -> DataFrame:
    """(lang, feat, prob) — char unigram ('c_x') + bigram ('bg_xy') features,
    globally-unioned vocabulary, additive smoothing over |V|
    (lieterature.py:83-113).

    The corpus is read ONCE: one ``mapInPandas`` emits both the 'c_' and
    the 'bg_' partial counts of each (batch, lang) ('c_'/'bg_' namespaces
    never collide), and one ``groupBy(lang, feat).sum`` totals them.
    Everything after reads that aggregate, whose exchange Spark reuses:
    per-language totals, and the dense langs × vocab grid — one row per
    feature holding its {lang: cnt} map, cross-joined with the broadcast
    totals. Every language has exactly |V| grid rows, so |V| is a window
    count over the grid; no action runs until the caller collects.

    Scale note: the reference semantics REQUIRE the dense grid (every
    lang carries a smoothed prob for every global feature), so the model
    table is L·|V| rows — fine for alphabetic corpora, and for a
    CJK-heavy web corpus (|V| ~ 10⁷ observed bigrams) still only a model
    BUILD cost: the grid never joins back to documents (serving
    broadcasts per-lang dicts)."""
    src = df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("text"))

    def partial(pdfs):
        import pandas as pd

        for pdf in pdfs:
            # Python str.lower per text, as the reference's dunning_features
            for lang, texts in keyed_texts(pdf, "text", "lang", lower=True):
                uni, uni_cnt = grouped_gram_counts(texts, 1, False)
                # pad=True is the reference '_' + text + '_' bigram padding
                bg, bg_cnt = grouped_gram_counts(texts, 2, True)
                yield pd.DataFrame({
                    "lang": lang,
                    "feat": ["c_" + g for g in uni] + ["bg_" + g for g in bg],
                    "cnt": np.concatenate([uni_cnt, bg_cnt]),
                })

    counts = (
        src.mapInPandas(partial, schema="lang string, feat string, cnt long")
        .groupBy("lang", "feat")
        .agg(F.sum("cnt").alias("cnt"))
    )
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    by_feat = counts.groupBy("feat").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "cnt"))).alias("m")
    )
    grid = by_feat.crossJoin(F.broadcast(totals)).select(
        "lang", "feat", "total",
        F.coalesce(F.col("m")[F.col("lang")], F.lit(0)).alias("cnt"),
        F.count("*").over(Window.partitionBy("lang")).alias("vocab_size"),
    )
    return grid.select(
        "lang", "feat",
        (
            (F.col("cnt") + F.lit(smoothing))
            / (F.col("total") + F.lit(smoothing) * F.col("vocab_size"))
        ).alias("prob"),
    )


def model_table_to_dict(model_df: DataFrame, kind: str) -> dict:
    """Collect a model table into the oracle's dict shape (for broadcast).

    The table comes back through Arrow (``toPandas``); ``.tolist()``
    turns each column into builtin ``str``/``int``/``float`` values."""
    pdf = model_df.toPandas()
    col = {c: pdf[c].tolist() for c in pdf.columns}
    if kind in ("ngram", "char_freq", "dunning"):
        key = {"ngram": "ngram", "char_freq": "char", "dunning": "feat"}[kind]
        out: dict = {}
        for lang, k, p in zip(col["lang"], col[key], col["prob"]):
            out.setdefault(lang, {})[k] = p
        return out
    if kind == "markov":
        out = {}
        for lang, cur, nxt, p in zip(col["lang"], col["cur"], col["nxt"], col["prob"]):
            out.setdefault(lang, {}).setdefault(cur, {})[nxt] = p
        return out
    if kind == "cavnar_trenkle":
        out = {}
        for lang, rank, g, c in zip(col["lang"], col["rank"], col["ngram"], col["cnt"]):
            out.setdefault(lang, []).append((rank, g, c))
        return {
            lang: [(g, c) for _, g, c in sorted(items)] for lang, items in out.items()
        }
    raise ValueError(kind)
