"""Data-selection operators — deciding WHICH kept documents to train on.

Two published selection methods re-expressed Spark-first, both net-new
for the quality-filter surface (the reference stops at keep/drop):

``quantile_buckets`` — CCNet's head/middle/tail split (Wenzek et al.
2020): per-language perplexity terciles, with the head (lowest
perplexity) preferred for training. Generic over any score/group
column. Same two-narrow-pass shape as filtering.percentile_filter: one
per-group quantile agg producing a |groups|-row threshold table, one
broadcast join + CASE — never a corpus-wide percent_rank sort.

``dsir_weights`` — DSIR (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): hashed word-unigram importance
weights log p_target(doc) - log q_raw(doc) under bag-of-buckets
unigram models. Feature hashing uses the repo's cross-engine rolling
fold (functions/analysis.doc_fingerprint's (acc*31+cp) % 1e9+7, proven
bit-identical in DuckDB by the fingerprints gate) applied per token,
so the whole operator FULL-gates. Per-bucket log ratios are quantized
to integer micro-nats BEFORE the per-doc sum: BIGINT addition is
order-free, so the gate cannot flip on float summation order between
engines — the same integer-exactness discipline the embedding-LSH
gates use.

Scale shape (DSIR): the two distributions are one hash-agg each over
(bucket) — B≈10^4 rows out, map-side combined; the scored corpus never
shuffles text: tokens explode map-side into (doc_id, bucket), the
B-row ratio table broadcast-joins, and the only shuffle is the partial
per-doc BIGINT sum. The ratio table is reusable across shards (compute
once per target/raw pair, persist as a table).
"""

from __future__ import annotations

import math
import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.codepoints import FOLD_MOD, fold, mod_step, tile



# --------------------------------------------------------------- buckets

def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    qs: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    exact: bool = False,
    accuracy: int = 10_000,
    round_digits: int = 6,
    out_col: str = "bucket",
) -> DataFrame:
    """Add ``out_col``: which inter-quantile bucket of ``score_col``
    (per ``group_col``) each row falls in — ``labels[i]`` for scores in
    (q_{i-1}, q_i], below-or-at q_0 getting ``labels[0]`` (CCNet's
    "head" = lowest perplexity). len(labels) must be len(qs)+1.

    ``exact=False`` (serving default) uses approx_percentile (bounded
    memory at 100 TB); ``exact=True`` is the percentile()/quantile_cont
    FULL-gate twin. Scores and thresholds are rounded identically in
    both engines so boundary docs cannot flip on ULP noise.
    """
    if len(labels) != len(qs) + 1:
        raise ValueError(f"need len(labels) == len(qs)+1, got {labels}/{qs}")
    if list(qs) != sorted(qs) or not all(0 < q < 1 for q in qs):
        raise ValueError(f"qs must be sorted in (0,1), got {qs}")
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    aggs = [
        F.round(F.expr(f"{fn}({score_col}, {q!r}{acc})"), round_digits).alias(
            f"_q{i}"
        )
        for i, q in enumerate(qs)
    ]
    thr = df.agg(*aggs) if group_col is None else df.groupBy(group_col).agg(*aggs)
    joined = (
        df.crossJoin(F.broadcast(thr))
        if group_col is None
        else df.join(F.broadcast(thr), group_col)
    )
    s = F.round(F.col(score_col), round_digits)
    expr: Column | None = None
    for i, lab in enumerate(labels[:-1]):
        cond = s <= F.col(f"_q{i}")
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    expr = expr.otherwise(F.lit(labels[-1]))
    return joined.withColumn(out_col, expr).drop(*[f"_q{i}" for i in range(len(qs))])


def quantile_buckets_sql(
    table: str,
    cols: str,
    score_col: str,
    group_col: str,
    qs: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    round_digits: int = 6,
    out_col: str = "bucket",
) -> str:
    """DuckDB twin of :func:`quantile_buckets` (exact mode; Spark
    ``percentile`` = DuckDB ``quantile_cont``, proven by the events
    quantile gate)."""
    thr_cols = ", ".join(
        f"round(quantile_cont({score_col}, {q!r}), {round_digits}) AS _q{i}"
        for i, q in enumerate(qs)
    )
    whens = " ".join(
        f"WHEN round(d.{score_col}, {round_digits}) <= t._q{i} THEN '{lab}'"
        for i, lab in enumerate(labels[:-1])
    )
    return f"""
      WITH t AS (
        SELECT {group_col}, {thr_cols} FROM {table} GROUP BY {group_col}
      )
      SELECT {cols},
             CASE {whens} ELSE '{labels[-1]}' END AS {out_col}
      FROM {table} d JOIN t USING ({group_col})
    """


# ------------------------------------------------------------------ DSIR

def token_buckets_udf(n_buckets: int):
    """Per-token hash buckets: the repo's rolling (acc*31+cp) % 1e9+7
    fold applied to each whitespace token of the ``trim``-ed text, mod
    ``n_buckets``; NULL text gives NULL, empty-after-trim text ``[]``.
    Every token of the Arrow batch folds in one ``codepoints.fold``; the
    DuckDB twin is :func:`_fold_sql` (pinned token by token by
    tests/test_misc_ops.py::test_token_buckets_udf_matches_sql)."""
    ws_re = _re.compile("[ \t\n]+")

    @F.pandas_udf("array<int>")
    def buckets(texts: pd.Series) -> pd.Series:
        n = len(texts)
        docs_ntoks = np.zeros(n, dtype=np.int64)
        all_toks: list[str] = []
        for i, t in enumerate(texts):
            if not isinstance(t, str):
                continue
            # Spark trim() strips ' ' only; split keeps leading/trailing
            # empty tokens (Pattern.split limit -1) — replicated exactly
            s = t.strip(" ")
            if s == "":
                continue
            toks = ws_re.split(s)
            docs_ntoks[i] = len(toks)
            all_toks.extend(toks)
        cp, starts, lens = tile(all_toks)
        b = (fold(cp, starts, lens, np.int64(0), mod_step) % n_buckets).astype(np.int32)
        per_doc = np.split(b, np.cumsum(docs_ntoks)[:-1])
        return pd.Series([d if isinstance(t, str) else None for d, t in zip(per_doc, texts)])

    return buckets


def dsir_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance weight in integer micro-nats:
    (``id_col``, ``dsir_weight_micro``) where weight =
    Σ_tokens [log p_target(bucket) − log q_raw(bucket)], each bucket's
    log ratio rounded to 1e-6 and summed as BIGINT (order-free, so two
    engines cannot diverge on float summation order). Docs with zero
    tokens get weight 0.

    Resample downstream with sampling.hash_sample against
    exp(weight) — deterministic, retry-stable.
    """
    # r7 execution shape (identical values):
    # - per-token buckets come from the vectorized fold UDF (the SQL
    #   HOF fold ran interpreted per character);
    # - the raw corpus is folded ONCE: its exploded bucket rows are
    #   persisted (scoped to the active pair_cache_scope, like the LSH
    #   caches) and re-aggregated for the raw distribution — previously
    #   the raw side was folded three times (distribution, its tot
    #   re-read, and the scoring pass);
    # - the two B-row count tables are collected (bounded by n_buckets —
    #   the same bounded-driver-action class as ivf's centroid ids) and
    #   re-enter as literal tables; the log/ratio arithmetic stays in
    #   JVM expressions, so every double equals the old plan's.
    from .cache import scoped_persist

    bucket_arr = token_buckets_udf(n_buckets)
    per_tok = scoped_persist(
        raw_df.select(
            F.col(id_col),
            F.explode_outer(bucket_arr(F.col(text_col))).alias("bucket"),
        )
    )
    spark = raw_df.sparkSession
    r_rows = (
        per_tok.filter(F.col("bucket").isNotNull())
        .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    )
    t_rows = (
        target_df.select(
            F.explode(bucket_arr(F.col(text_col))).alias("bucket")
        )
        .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    )

    def dist(rows):
        tot = sum(r["cnt"] for r in rows)
        df = spark.createDataFrame(
            [(r["bucket"], r["cnt"]) for r in rows] or [(None, None)],
            "bucket int, cnt long",
        ).filter(F.col("bucket").isNotNull())
        logp = F.log(
            (F.col("cnt") + smoothing) / (F.lit(float(tot)) + smoothing * n_buckets)
        )
        floor = math.log(smoothing / (tot + smoothing * n_buckets))
        return df.select("bucket", logp.alias("logp")), floor

    t, t_floor = dist(t_rows)
    r, r_floor = dist(r_rows)
    ratio = (
        t.select("bucket", F.col("logp").alias("lt"))
        .join(r.select("bucket", F.col("logp").alias("lr")), "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                (
                    F.coalesce(F.col("lt"), F.lit(t_floor))
                    - F.coalesce(F.col("lr"), F.lit(r_floor))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("ratio_micro"),
        )
    )
    return (
        per_tok.join(F.broadcast(ratio), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum("ratio_micro"), F.lit(0).cast("long")).alias(
                "dsir_weight_micro"
            )
        )
    )


def _fold_sql(tok_expr: str) -> str:
    """DuckDB per-token rolling fold, identical to the Spark side."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({tok_expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, x) -> (acc * 31 + x) % {FOLD_MOD})"
    )


def dsir_weights_sql(
    raw_sql: str,
    target_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    smoothing: float = 1.0,
) -> str:
    """DuckDB twin of :func:`dsir_weights`, generated from the same
    fold / smoothing / micro-quantization constants."""
    def toks(src: str, name: str) -> str:
        return f"""
      {name}_toks AS (
        SELECT {id_col},
               ({_fold_sql('t.tok')} % {n_buckets})::INT AS bucket
        FROM (
          SELECT {id_col}, unnest(
            CASE WHEN trim({text_col}) = '' THEN []::VARCHAR[]
                 ELSE string_split_regex(trim({text_col}), '[ \\t\\n]+') END
          ) AS tok
          FROM ({src})
        ) t
      )"""

    def dist(name: str) -> str:
        return f"""
      {name}_cnt AS (
        SELECT bucket, count(*)::BIGINT AS cnt FROM {name}_toks GROUP BY bucket
      ),
      {name}_dist AS (
        SELECT bucket,
               ln((cnt + {smoothing}) /
                  ((SELECT sum(cnt) FROM {name}_cnt) + {smoothing} * {n_buckets}))
                 AS logp
        FROM {name}_cnt
      )"""

    floors = f"""
      floors AS (
        SELECT ln({smoothing} / ((SELECT sum(cnt) FROM t_cnt) + {smoothing} * {n_buckets})) AS t_floor,
               ln({smoothing} / ((SELECT sum(cnt) FROM r_cnt) + {smoothing} * {n_buckets})) AS r_floor
      )"""
    return f"""
      WITH {toks(raw_sql, 'r')}, {toks(target_sql, 't')},
      {dist('r')}, {dist('t')}, {floors},
      ratio AS (
        SELECT coalesce(t.bucket, r.bucket) AS bucket,
               round((coalesce(t.logp, f.t_floor)
                      - coalesce(r.logp, f.r_floor)) * 1000000)::BIGINT
                 AS ratio_micro
        FROM t_dist t FULL OUTER JOIN r_dist r ON t.bucket = r.bucket
        CROSS JOIN floors f
      ),
      base AS (SELECT DISTINCT {id_col} FROM ({raw_sql}))
      SELECT b.{id_col},
             coalesce(sum(ratio.ratio_micro), 0)::BIGINT AS dsir_weight_micro
      FROM base b
      LEFT JOIN r_toks k USING ({id_col})
      LEFT JOIN ratio USING (bucket)
      GROUP BY b.{id_col}
    """
