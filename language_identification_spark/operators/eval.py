"""Evaluation operators (SURVEY.md §2.3 A8–A12) as pure DataFrame plans.

The reference computes these with sklearn on driver-side arrays
(classification_report at /root/reference/src/utils.py:211,
confusion_matrix at :180, dataset stats at :228-235, prediction
distribution at /root/reference/src/train/statistical.py:66-72). Here they
are distributed aggregations — a 10^12-row prediction table never leaves
the cluster; the outputs are ≤ |languages|² rows.

sklearn semantics preserved:
- ``zero_division=0``: 0/0 precision/recall/F1 become 0.0 (coalesce).
- macro avg = unweighted mean over classes present in y_true ∪ y_pred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dataset_statistics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row global stats (utils.py:228-235)."""
    return df.agg(
        F.count("*").alias("total_samples"),
        F.avg(F.length(text_col)).alias("avg_text_length"),
        F.min(F.length(text_col)).alias("min_text_length"),
        F.max(F.length(text_col)).alias("max_text_length"),
    )


def label_distribution(df: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Per-label counts (utils.py:230 value_counts / A9 prediction dist)."""
    return df.groupBy(F.col(lang_col).alias("label")).agg(F.count("*").alias("n"))


def accuracy(df: DataFrame, label_col: str = "lang", pred_col: str = "lang_pred") -> DataFrame:
    return df.agg(
        F.avg((F.col(label_col) == F.col(pred_col)).cast("double")).alias("accuracy")
    )


def confusion_matrix_long(
    df: DataFrame, label_col: str = "lang", pred_col: str = "lang_pred"
) -> DataFrame:
    """(label, pred, n) long form — the scalable shape of A12."""
    return df.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("pred")
    ).agg(F.count("*").alias("n"))


def classification_report(
    df: DataFrame, label_col: str = "lang", pred_col: str = "lang_pred"
) -> DataFrame:
    """(class, precision, recall, f1, support) per class, sklearn-equivalent
    with zero_division=0 (utils.py:211). Classes = labels ∪ predictions.

    One aggregate, one read of ``df``: every row enters twice, on its
    label's side (support; tp when label == pred) and on its prediction's
    side (pred_cnt). A NULL label or prediction makes a NULL class whose
    counts are all 0, while the row's other side still counts."""
    label, pred = F.col(label_col), F.col(pred_col)
    sides = F.inline(
        F.array(
            F.struct(
                label.alias("class"), F.lit(True).alias("is_label"), (label == pred).alias("hit")
            ),
            F.struct(
                pred.alias("class"), F.lit(False).alias("is_label"), F.lit(False).alias("hit")
            ),
        )
    )
    known = F.col("class").isNotNull()
    out = df.select(sides).groupBy("class").agg(
        F.count_if(known & F.col("is_label")).alias("support"),
        F.count_if(known & ~F.col("is_label")).alias("pred_cnt"),
        F.count_if(F.col("hit")).alias("tp"),
    )
    precision = F.when(F.col("pred_cnt") > 0, F.col("tp") / F.col("pred_cnt")).otherwise(0.0)
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(0.0)
    return out.select(
        "class",
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(
            (precision + recall) > 0, 2 * precision * recall / (precision + recall)
        ).otherwise(0.0).alias("f1"),
        "support",
    )


def classification_report_full(
    df: DataFrame, label_col: str = "lang", pred_col: str = "lang_pred"
) -> DataFrame:
    """Per-class rows plus the 'macro avg' and 'weighted avg' rows of
    sklearn's classification_report output_dict (utils.py:211): macro =
    unweighted mean over classes, weighted = support-weighted mean, both
    with support = total sample count (predicted-only classes carry
    support 0, so Σsupport = N)."""
    rep = classification_report(df, label_col, pred_col)
    macro = rep.agg(
        F.avg("precision").alias("precision"),
        F.avg("recall").alias("recall"),
        F.avg("f1").alias("f1"),
        F.sum("support").alias("support"),
    ).select(F.lit("macro avg").alias("class"), "precision", "recall", "f1", "support")
    weighted = rep.agg(
        (F.sum(F.col("precision") * F.col("support")) / F.sum("support")).alias("precision"),
        (F.sum(F.col("recall") * F.col("support")) / F.sum("support")).alias("recall"),
        (F.sum(F.col("f1") * F.col("support")) / F.sum("support")).alias("f1"),
        F.sum("support").alias("support"),
    ).select(F.lit("weighted avg").alias("class"), "precision", "recall", "f1", "support")
    return rep.unionByName(macro).unionByName(weighted)


def pr_threshold_sweep(
    df: DataFrame,
    label_col: str = "is_pos",
    score_col: str = "score",
    n_buckets: int = 100,
) -> DataFrame:
    """(threshold, n_pred_pos, tp, precision, recall, f1) for every
    occupied score bucket — the calibration curve read before fixing a
    quality-filter threshold ("keep docs with score >= t": what
    fraction kept is truly good, what fraction of good is kept).

    Distributed ROC discipline: ONE map-side-combined corpus aggregation
    into <= n_buckets+1 buckets (thresholds live on bucket boundaries,
    b/n_buckets, so bucket membership IS threshold membership; scores
    outside [0,1] clamp into the end buckets). The cumulative-from-the-
    top sums then run over a table bounded by the CALLER'S PARAMETER,
    never by data volume — an integer driver-side fold (the IVF-
    centroid / vocab-curve bounded-collect discipline; no unpartitioned
    WindowExec in any plan). Integer cumsums are exact in Python; all
    FLOAT math (division, round 6) stays in Spark expressions so the
    FULL gate's hash cannot drift between engines on rounding rules."""
    b = F.floor(F.col(score_col) * n_buckets).cast("long")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets))
    per = sorted(
        (
            df.select(b.alias("b"), F.col(label_col).cast("long").alias("y"))
            .groupBy("b")
            .agg(F.count("*").alias("n"), F.sum("y").alias("n_pos"))
            .collect()
        ),
        key=lambda r: -r["b"],
    )
    total_pos = sum(r["n_pos"] for r in per)
    rows, c_n, c_pos = [], 0, 0
    for r in per:
        c_n += r["n"]
        c_pos += r["n_pos"]
        rows.append((r["b"], c_n, c_pos, total_pos))
    cum = df.sparkSession.createDataFrame(
        rows, "b long, n_pred_pos long, tp long, total_pos long"
    )
    prec = F.col("tp") / F.col("n_pred_pos")
    rec = F.col("tp") / F.col("total_pos")
    return (
        cum
        .select(
            F.round(F.col("b") / n_buckets, 6).alias("threshold"),
            "n_pred_pos",
            "tp",
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(
                F.when(
                    prec + rec > 0, 2 * prec * rec / (prec + rec)
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )
