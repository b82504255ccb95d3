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
per distinct key ⇒ prob = (cnt + s) / (Σcnt + s·|keys|), written once in
``_smoothed``. Dunning smooths over the global vocabulary instead.
The trainers read the ``text`` and ``lang`` columns and the module's
reference constants.
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
CT_PROFILE_SIZE = 400       # configs.yaml:56


def _smoothed(counts: DataFrame, part: list[str], smoothing: float) -> DataFrame:
    """``counts`` with ``cnt`` replaced by ``prob`` = (cnt + s) /
    (Σcnt + s·|keys|) over each ``part`` group: the reference's
    defaultdict rule, shared by the n-gram, char-frequency and Markov
    trainers."""
    w = Window.partitionBy(*part)
    total = F.sum("cnt").over(w) + F.lit(smoothing) * F.count("*").over(w)
    return counts.select(
        *[c for c in counts.columns if c != "cnt"],
        ((F.col("cnt") + F.lit(smoothing)) / total).alias("prob"),
    )


def train_ngram_lm(df: DataFrame, n: int = 1) -> DataFrame:
    """(lang, ngram, prob) — char n-gram LM (statistical_models.py:14-32).

    Counts via the vectorized partial-count pass (functions/ngramcount,
    r7): exact integer totals identical to the explode → groupBy form,
    so the normalized probabilities are bit-identical."""
    counts = char_ngram_counts(df, n, key_col="lang", lower=False, pad=True)
    return _smoothed(counts, ["lang"], NGRAM_SMOOTHING)


def train_char_freq(df: DataFrame) -> DataFrame:
    """(lang, char, prob) — char profile of the Python-``str.lower``ed
    text (statistical_models.py:57-74)."""
    counts = char_ngram_counts(
        df, 1, key_col="lang", lower=True, pad=False, gram_col="char"
    )
    return _smoothed(counts, ["lang"], CHARFREQ_SMOOTHING)


def train_markov(df: DataFrame) -> DataFrame:
    """(lang, cur, nxt, prob) — transition LM, normalized per (lang, cur)
    (statistical_models.py:107-129). Padding is '_text_' (n=2 grams of the
    single-underscore-padded text)."""
    # a bigram string IS its (cur, nxt) pair, so per-(lang, bigram)
    # counts are per-(lang, cur, nxt) counts — split on the SMALL count
    # table, not per occurrence
    counts = char_ngram_counts(
        df, 2, key_col="lang", lower=False, pad=True, gram_col="bg"
    ).select(
        "lang",
        F.substring("bg", 1, 1).alias("cur"),
        F.substring("bg", 2, 1).alias("nxt"),
        "cnt",
    )
    return _smoothed(counts, ["lang", "cur"], MARKOV_SMOOTHING)


def train_cavnar_trenkle(df: DataFrame, order_col: str = "doc_idx") -> DataFrame:
    """(lang, ngram, cnt, rank) — top-400 1..5-gram rank profile.

    The reference trains on the ' '-joined concatenation of a language's
    texts *in dataset order* (lieterature.py:28), so cross-document n-grams
    exist and order matters — inherently sequential per language. We
    distribute per-language with ``applyInPandas`` (one group per lang;
    profiles are tiny) and build each profile with the whole-array numpy
    kernel ``functions.ngramcount.rank_profile`` — no per-character
    Python loop — pinned equal to the oracle's ``ct_profile``.
    """

    def build(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col)
        # NULL texts join as nothing, as string_agg skips them
        combined = " ".join(pdf["text"].dropna().tolist())
        prof = rank_profile(combined, CT_PROFILE_SIZE)
        return pd.DataFrame(
            {
                "lang": pdf["lang"].iloc[0],
                "ngram": [g for g, _ in prof],
                "cnt": [c for _, c in prof],
                "rank": range(len(prof)),
            }
        )

    return (
        df.select("lang", order_col, "text")
        .groupBy("lang")
        .applyInPandas(build, schema="lang string, ngram string, cnt long, rank long")
    )


def train_dunning(df: DataFrame) -> DataFrame:
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
        df.select("lang", "text")
        .mapInPandas(partial, schema="lang string, feat string, cnt long")
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
            (F.col("cnt") + F.lit(DUNNING_SMOOTHING))
            / (F.col("total") + F.lit(DUNNING_SMOOTHING) * F.col("vocab_size"))
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
