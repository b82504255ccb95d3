"""Resumable execution with per-partition lineage (north_rule).

Unit of work = url-hash bucket (``pmod(xxhash64(url), n_buckets)``) — the
same explicit bucketing the north_star prescribes for the Iceberg table. A
run processes all *pending* buckets in ONE Spark job (not a driver loop),
writes output partitioned by bucket with dynamic partition overwrite (so a
re-run of a bucket replaces, never duplicates), then appends one lineage
row per bucket: (bucket, run_id, input_snapshot, n_input, n_kept,
attrition per stage, wall_s, ts). The counts come from ``observe()`` on
the write job; the rows are committed through :func:`lineage_frame`, a
pandas-built frame that plans as a JVM ``LocalTableScan``, so the commit
starts no Python worker (the streaming job commits the same way).

Resume = anti-join of the bucket universe against the lineage table
(driver-side: the lineage table is tiny). A killed run re-processes only
buckets without lineage rows; completed buckets are never touched, and the
final output is byte-identical to a single-shot run (pipeline is
deterministic per row).

Iceberg snapshots would subsume the manual bookkeeping; in this sandbox the
catalog is parquet (see sources/catalog.py) and ``input_snapshot`` is a
fingerprint of the input files.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .quality import QualityModels, run_quality_pipeline
from .rules import MAX_PERPLEXITY, MIN_LANG_CONF


def bucket_expr(url_col: str = "url", n_buckets: int = 16):
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


def lineage_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Lineage rows (one tuple per unit of work, in ``schema``'s column
    order) plus a commit ``ts``, built from a pandas frame: with Arrow on
    it plans as a JVM ``LocalTableScan``, where a list-built frame is a
    Python RDD (``Scan ExistingRDD``) that starts a Python worker pool
    just to write a handful of rows."""
    struct = T.StructType.fromDDL(schema)
    pdf = pd.DataFrame.from_records(rows, columns=struct.names)
    return spark.createDataFrame(pdf, struct).withColumn("ts", F.current_timestamp())


def input_snapshot_id(pages: DataFrame) -> str:
    """Fingerprint of the input scan (stand-in for an Iceberg snapshot id)."""
    files = sorted(pages.inputFiles())
    if not files:
        return "inmemory"
    import hashlib

    return hashlib.sha1("\n".join(files).encode()).hexdigest()[:16]


def completed_buckets(
    spark: SparkSession, lineage_dir: str, input_snapshot: str | None = None
) -> set[int]:
    """Buckets whose lineage marks them done. A bucket whose only lineage
    rows are ``n_input = 0`` is complete only FOR THE SNAPSHOT that
    produced them: if the input snapshot has since changed, rows may have
    appeared in that bucket, so it re-opens. Non-empty buckets stay
    complete regardless (their output already landed; reprocessing them
    under a changed snapshot is a full re-run decision, not a resume).
    Pass ``input_snapshot=None`` for the legacy any-row-counts behavior."""
    if not os.path.exists(lineage_dir):
        return set()
    rows = spark.read.parquet(lineage_dir)
    if input_snapshot is not None:
        rows = rows.filter(
            (F.col("n_input") > 0) | (F.col("input_snapshot") == input_snapshot)
        )
    return {r["bucket"] for r in rows.select("bucket").distinct().collect()}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    models: QualityModels,
    out_dir: str,
    lineage_dir: str,
    n_buckets: int = 16,
    only_buckets: set[int] | None = None,
    run_id: str | None = None,
) -> list[int]:
    """Process pending buckets; returns the buckets processed this call.

    ``only_buckets`` restricts the batch (used by kill/resume tests to
    simulate an interrupted run).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    snapshot = input_snapshot_id(pages)
    done = completed_buckets(spark, lineage_dir, input_snapshot=snapshot)
    pending = sorted(set(range(n_buckets)) - done)
    if only_buckets is not None:
        pending = sorted(set(pending) & only_buckets)
    if not pending:
        return []

    t0 = time.monotonic()
    bucketed = pages.withColumn("bucket", bucket_expr("url", n_buckets)).filter(
        F.col("bucket").isin(pending)
    )
    out = run_quality_pipeline(spark, bucketed, models)

    # Per-bucket lineage metrics are collected DURING the write job via
    # ``observe()`` (per-bucket conditional sums): ONE read of the input,
    # ONE write of the output, no post-write rescan — at 100 TB a second
    # pass over the written output is real money. The counts still
    # reflect exactly what landed: observe evaluates on the rows the
    # writer consumed, in the same job.
    from pyspark.sql import Observation

    obs = Observation(f"lineage_{run_id}")
    exprs = []
    for b in pending:
        isb = F.col("bucket") == b
        exprs += [
            F.sum(isb.cast("long")).alias(f"i_{b}"),
            F.sum(
                F.when(isb, F.col("keep").cast("long")).otherwise(F.lit(0))
            ).alias(f"k_{b}"),
            F.sum(
                F.when(isb & (F.col("lang_conf") < MIN_LANG_CONF), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"l_{b}"),
            F.sum(
                F.when(isb & (F.col("perplexity") > MAX_PERPLEXITY), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"p_{b}"),
        ]
    out = out.observe(obs, *exprs)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    wall_s = time.monotonic() - t0

    m = obs.get
    # A pending bucket with zero input rows gets an n_input=0 lineage row
    # (previously it had none and was rescanned on every resume).
    stats = lineage_frame(
        spark,
        [
            (
                int(b),
                int(m[f"i_{b}"] or 0),
                int(m[f"k_{b}"] or 0),
                int(m[f"l_{b}"] or 0),
                int(m[f"p_{b}"] or 0),
                run_id,
                snapshot,
                float(wall_s),
            )
            for b in pending
        ],
        "bucket int, n_input long, n_kept long, n_lowconf long, n_highppl long, "
        "run_id string, input_snapshot string, wall_s double",
    )
    stats.write.mode("append").parquet(lineage_dir)
    return pending
