"""Structured Streaming variant of the quality pipeline.

The reference is batch-only (SURVEY.md §2.9); this is the net-new streaming
surface: the SAME narrow transform chain (the one serving Arrow UDF —
scores, scrub and heuristic features — plus the ``drop_reason`` CASE and
``keep``) applied to a ``readStream`` source, so batch and streaming
share one code path (``run_quality_pipeline`` works on both because every
stage is a stateless projection — no watermark needed for the filter
itself).

Also provides a windowed quality-metrics stream (counts/keep-rate per
event-time window with a watermark) as the stateful-aggregation example.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.lineage import lineage_frame, observe_drops
from ..pipeline.quality import QualityModels, run_quality_pipeline

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("split", T.StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(dir_path)
    )


def quality_stream(spark: SparkSession, pages_stream: DataFrame, models: QualityModels) -> DataFrame:
    """Streaming scored pages — identical transform chain as batch."""
    return run_quality_pipeline(spark, pages_stream, models)


def windowed_quality_metrics(scored_stream: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Per event-time window: docs, keep-rate, mean perplexity. Late data
    beyond the watermark is dropped (exactly the Iceberg-metrics analogue)."""
    return (
        scored_stream.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", window), F.col("lang_pred"))
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(F.col("keep").cast("double")).alias("keep_rate"),
            F.avg("perplexity").alias("avg_ppl"),
        )
    )


def run_stream_with_lineage(
    spark: SparkSession,
    dir_path: str,
    models: QualityModels,
    out_dir: str,
    lineage_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of the batch path's observe()-lineage
    (pipeline/lineage.run_resumable): every micro-batch appends ONE
    lineage row — (batch_id, n_input, n_kept, drops, wall_s, ts), the
    same counts keyed by batch instead of url-bucket, with ``drops``
    mapping each first-failing rule to its count — collected by the same
    ``pipeline.lineage.observe_drops`` on the batch DataFrame
    inside ``foreachBatch``, so the input is read once and the output
    written once with no post-write rescan.
    Restart-safety: BOTH writes are dynamic partition overwrites keyed
    by ``batch_id``, so a replayed micro-batch (Structured Streaming's
    at-least-once foreachBatch contract) REPLACES its own output
    partition AND its own lineage row instead of appending duplicates —
    consumers may sum lineage rows (the batch path's ``sum(n_kept)``
    idiom) without any latest-row-per-batch_id dedup (ADVICE r4: the
    previous append-only lineage double-counted after a restart).
    """
    import time

    scored = quality_stream(spark, read_pages_stream(spark, dir_path), models)

    def handle_batch(df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        observed, counts = observe_drops(
            df.withColumn("batch_id", F.lit(int(batch_id))), "batch_id", [int(batch_id)]
        )
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        row = lineage_frame(
            spark,
            [(b, *c, float(time.monotonic() - t0)) for b, c in counts().items()],
            "batch_id long, n_input long, n_kept long, drops map<string,bigint>, wall_s double",
        )
        (
            row.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(lineage_dir)
        )

    return (
        scored.writeStream.outputMode("append")
        .foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_stream_to_memory(
    spark: SparkSession, dir_path: str, models: QualityModels, name: str = "quality_out"
):
    """Drive the stream synchronously over the files already in dir_path
    (smoke/test harness; production would use a real source + parquet sink)."""
    stream = quality_stream(spark, read_pages_stream(spark, dir_path), models)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")
