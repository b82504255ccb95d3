"""Resume semantics (SURVEY.md §5.2 item 5): kill/restart processes each
bucket exactly once and the final output equals a single-shot run."""

from __future__ import annotations

from pyspark.sql import functions as F

from language_identification_spark.pipeline.lineage import (
    completed_buckets,
    input_snapshot_id,
    run_resumable,
)
from language_identification_spark.pipeline.quality import (
    run_quality_pipeline,
    train_quality_models,
)

N_BUCKETS = 8


def test_resume_exactly_once(spark, pages_df, tmp_path, check_lineage_drops):
    models = train_quality_models(pages_df.filter("split = 'train'"))
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")

    # "Killed" first run: only half the buckets complete.
    first = run_resumable(
        spark, pages_df, models, out_dir, lin_dir, N_BUCKETS,
        only_buckets={0, 1, 2, 3},
    )
    assert first == [0, 1, 2, 3]
    assert completed_buckets(spark, lin_dir, input_snapshot_id(pages_df)) == {0, 1, 2, 3}

    # Restart: processes only the remaining buckets.
    second = run_resumable(spark, pages_df, models, out_dir, lin_dir, N_BUCKETS)
    assert second == [4, 5, 6, 7]

    # Third run: nothing pending.
    assert run_resumable(spark, pages_df, models, out_dir, lin_dir, N_BUCKETS) == []

    # No bucket processed twice.
    lineage = spark.read.parquet(lin_dir)
    assert lineage.dtypes == [
        ("bucket", "int"), ("n_input", "bigint"), ("n_kept", "bigint"),
        ("drops", "map<string,bigint>"), ("run_id", "string"),
        ("input_snapshot", "string"), ("wall_s", "double"), ("ts", "timestamp"),
    ]
    per_bucket = lineage.groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert {r["bucket"] for r in per_bucket} == set(range(N_BUCKETS))

    # Output identical to a single-shot run (modulo the bucket column).
    resumed = spark.read.parquet(out_dir)
    single = run_quality_pipeline(spark, pages_df, models)
    cols = ["url", "keep", "lang_pred", "lang_conf", "perplexity", "scrubbed_text"]
    assert sorted(map(tuple, resumed.select(cols).collect())) == sorted(
        map(tuple, single.select(cols).collect())
    )
    assert resumed.count() == pages_df.count()

    # Lineage attrition numbers line up with the output.
    total_kept = lineage.agg(F.sum("n_kept")).first()[0]
    assert total_kept == resumed.filter("keep").count()
    check_lineage_drops(lineage.collect(), resumed, "bucket")


def test_empty_bucket_reopens_on_new_snapshot(spark, pages_df, tmp_path):
    """ADVICE r3: a zero-input bucket's lineage row marks it complete only
    for the snapshot that produced it. When the input snapshot changes
    (rows may now exist in that bucket), the empty bucket re-opens; buckets
    that actually produced output stay complete."""
    from language_identification_spark.pipeline.lineage import bucket_expr

    models = train_quality_models(pages_df.filter("split = 'train'"))
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    src = str(tmp_path / "pages_src")

    with_b = pages_df.withColumn("b", bucket_expr("url", N_BUCKETS))
    empty_bucket = with_b.groupBy("b").count().orderBy("b").first()["b"]
    with_b.filter(F.col("b") != empty_bucket).drop("b").write.mode(
        "overwrite"
    ).parquet(src)

    first = run_resumable(
        spark, spark.read.parquet(src), models, out_dir, lin_dir, N_BUCKETS
    )
    assert first == list(range(N_BUCKETS))  # all pending, incl. the empty one
    lineage = spark.read.parquet(lin_dir)
    assert (
        lineage.filter(F.col("bucket") == empty_bucket).first()["n_input"] == 0
    )

    # Same snapshot → nothing pending (empty bucket stays complete).
    assert run_resumable(
        spark, spark.read.parquet(src), models, out_dir, lin_dir, N_BUCKETS
    ) == []

    # New snapshot with rows in the formerly-empty bucket → ONLY that
    # bucket re-opens.
    with_b.drop("b").write.mode("overwrite").parquet(src)
    second = run_resumable(
        spark, spark.read.parquet(src), models, out_dir, lin_dir, N_BUCKETS
    )
    assert second == [empty_bucket]
    out = spark.read.parquet(out_dir)
    assert out.count() == pages_df.count()


def test_observe_drops_counts_are_exact(spark):
    """The per-rule drops come from one histogram aggregate; merged from
    64 partial histograms (every rule, skewed keys, one key with no
    rows) they still equal the exact per-key counts."""
    import numpy as np
    import pandas as pd

    from language_identification_spark.pipeline.lineage import observe_drops
    from language_identification_spark.pipeline.rules import RULE_SPECS

    rng = np.random.default_rng(3)
    reasons = [r for r, *_ in RULE_SPECS] + [None]
    keys = list(range(17))
    weights = np.arange(1, 17) ** 2
    n = 20_000
    pdf = pd.DataFrame({
        "k": rng.choice(keys[:-1], n, p=weights / weights.sum()),
        "drop_reason": rng.choice(np.array(reasons, dtype=object), n),
    })
    pdf["keep"] = pdf["drop_reason"].isna()
    observed, counts = observe_drops(spark.createDataFrame(pdf).repartition(64), "k", keys)
    observed.write.format("noop").mode("overwrite").save()
    got = counts()
    for k in keys:
        sub = pdf[pdf["k"] == k]
        want = sub["drop_reason"].value_counts().to_dict()
        assert got[k] == (len(sub), int(sub["keep"].sum()), want), k
    assert got[16] == (0, 0, {})


def test_resume_lookup_is_one_job(spark, pages_df, tmp_path):
    """completed_buckets reads the lineage table with its declared schema
    and filters the collected rows: one Spark job per call, no
    schema-inference job and no distinct."""
    models = train_quality_models(pages_df.filter("split = 'train'"))
    lin_dir = str(tmp_path / "lineage")
    run_resumable(
        spark, pages_df, models, str(tmp_path / "out"), lin_dir, N_BUCKETS,
        only_buckets={1, 2},
    )
    sc = spark.sparkContext
    group = "test-resume-lookup"
    sc.setJobGroup(group, "completed_buckets")
    try:
        done = completed_buckets(spark, lin_dir, input_snapshot_id(pages_df))
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert done == {1, 2}
    assert len(jobs) == 1, jobs
