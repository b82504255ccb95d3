"""Physical-plan pins (SURVEY.md §4.2): the plans we designed, not just
the results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.models.score import score_ngram_relational
from language_identification_spark.models.train import train_ngram_lm
from language_identification_spark.pipeline.quality import (
    run_quality_pipeline,
    train_quality_models,
)
from language_identification_spark.plans.asserts import (
    assert_no_shuffle,
    assert_pushed_filter,
    count_exchanges,
    physical_plan,
)


def test_pipeline_is_narrow(spark, pages_df):
    """The serving pipeline must be shuffle-free: at 100 TB any Exchange
    on the scored side is a regression."""
    models = train_quality_models(pages_df.filter("split = 'train'"))
    out = run_quality_pipeline(spark, pages_df, models)
    assert_no_shuffle(out)


def test_quality_pipeline_is_one_arrow_pass(spark, pages_df):
    """One serving shape: the executed plan runs exactly one Arrow UDF
    (scores, scrub and every heuristic feature in one Python round
    trip) and compiles the rule CASE once (``keep`` reads
    ``drop_reason``), the output carries no normalized-text copy, and no
    other heuristics shape is accepted."""
    import re

    import pytest

    models = train_quality_models(pages_df.filter("split = 'train'"))
    out = run_quality_pipeline(spark, pages_df, models)
    out.write.format("noop").mode("overwrite").save()
    # print every project field, or truncation could hide the CASE
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
    assert plan.count("too_few_chars") == 1, plan
    assert "norm_text" not in out.columns
    with pytest.raises(ValueError):
        run_quality_pipeline(spark, pages_df, models, heuristics="native")


def test_quality_training_is_one_action_one_pass(spark, pages_df, monkeypatch):
    """Training both quality models runs ONE Spark action, and its
    executed plan reads the corpus through ONE Python pass."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    actions = []
    for name in ("toPandas", "collect"):
        def counted(self, *a, _name=name, _orig=getattr(ClassicDataFrame, name), **k):
            actions.append((_name, self))
            return _orig(self, *a, **k)

        monkeypatch.setattr(ClassicDataFrame, name, counted)
    train_quality_models(pages_df.filter("split = 'train'"))
    assert [n for n, _ in actions] == ["toPandas"], actions
    plan = actions[0][1]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"MapInPandas", final)) == 1, plan


def test_lineage_commits_are_local_table_scans(spark, pages_df, tmp_path, monkeypatch):
    """Both lineage commits (the resumable batch job's and the streaming
    job's) write a JVM LocalTableScan, never a Python RDD."""
    from language_identification_spark.pipeline import lineage
    from language_identification_spark.streaming import quality_stream

    frames = []

    def spy(*a, _orig=lineage.lineage_frame, **k):
        frames.append(_orig(*a, **k))
        return frames[-1]

    monkeypatch.setattr(lineage, "lineage_frame", spy)
    monkeypatch.setattr(quality_stream, "lineage_frame", spy)
    models = train_quality_models(pages_df.filter("split = 'train'"))
    src = str(tmp_path / "src")
    pages_df.limit(40).coalesce(1).write.parquet(src)
    lineage.run_resumable(
        spark, spark.read.parquet(src), models,
        str(tmp_path / "out"), str(tmp_path / "lineage"), n_buckets=2,
    )
    q = quality_stream.run_stream_with_lineage(
        spark, src, models, str(tmp_path / "s_out"), str(tmp_path / "s_lineage"),
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert [f.columns[0] for f in frames] == ["bucket", "batch_id"]
    for f in frames:
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["cavnar_predict", "char_freq_predict", "dunning_predict", "markov_predict",
     "ngram_lm_predict", "score_ngram_relational"],
)
def test_langid_scoring_is_doc_local(spark, sf_dir, pages_df, name):
    """Every langid predict frame scores each doc inside ONE Arrow UDF
    over a broadcast model: no gram rows are joined to the model and
    nothing shuffles on the scored side."""
    import re

    import __spark_entry__ as entrymod

    if name == "score_ngram_relational":
        df = pages_df.select(
            "text", "lang", F.monotonically_increasing_id().alias("doc_id")
        )
        out = score_ngram_relational(df, train_ngram_lm(df, n=1), n=1, smoothing=1e-8)
    else:
        out = entrymod.queries()[name](spark, sf_dir)
    plan = physical_plan(out)
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
    assert "Join" not in plan and "Exchange" not in plan, plan


@pytest.mark.parametrize("name", ["pii_scrub", "refresh_pipeline"])
def test_pii_gates_run_the_serving_scrub(spark, sf_dir, name):
    """The PII gates scrub with the serving kernel: one Arrow UDF in the
    executed plan and no JVM regexp_replace chain beside it."""
    import re

    import __spark_entry__ as entrymod

    plan = physical_plan(entrymod.queries()[name](spark, sf_dir))
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
    assert "regexp_replace" not in plan.lower(), plan


def test_filter_pushdown_to_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id", "lang")
    assert_pushed_filter(q, "LessThan(doc_id,100)")


def test_column_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.select("doc_id", "lang")
    from language_identification_spark.plans.asserts import explain_str

    plan = explain_str(q)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_training_is_single_shuffle_per_model(spark, pages_df):
    df = pages_df.select("text", "lang")
    m = train_ngram_lm(df, n=1)
    # one shuffle for the groupBy + one for the window partitioning
    assert count_exchanges(m) <= 2


def test_hot_bucket_guard_broadcasts_hot_list(spark, pages_df):
    """The guard must route rows via a BROADCAST of the (tiny) oversized-
    bucket list — a window/sort over the full banded table would be a
    100-TB regression — and the exact-bucket self-join key must shuffle."""
    from language_identification_spark.operators import dedup
    from language_identification_spark.plans.asserts import explain_str

    docs = pages_df.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    sigs = dedup.minhash_signatures(docs)
    cand = dedup.minhash_lsh_candidates(sigs, max_bucket=100)
    plan = explain_str(cand)
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_lsh_topk_broadcasts_probe_side(spark, sf_dir):
    from language_identification_spark.operators import similarity
    from language_identification_spark.plans.asserts import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.lsh_topk(emb, [0, 1, 2], k=5, n_planes=6)
    plan = explain_str(out)
    # exploded probe buckets stay on the broadcast side; the corpus is
    # scanned, never shuffled, before the candidate join
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_plan_shape(spark, sf_dir):
    """Incremental dedup must stay a keyed join family: no cartesian
    product, no window over the banded tables (the hot-bucket guard's
    contract), candidates deduped before the verify joins."""
    import __spark_entry__ as entrymod
    from language_identification_spark.plans.asserts import explain_str

    df = entrymod.queries()["dedup_incremental"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_bucketed_index_join_has_no_exchange_on_index_side(spark, pages_df, tmp_path):
    """100 TB evidence for incremental dedup: persist the minhash band
    index as a bucketBy(bh) table, and the daily shard join must read the
    index WITHOUT an Exchange — only the (small) incoming side shuffles."""
    from language_identification_spark.operators.dedup import minhash_band_index
    from language_identification_spark.plans.asserts import explain_str
    from language_identification_spark.sources.catalog import write_join_bucketed

    docs = pages_df.select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    ).limit(200)
    idx = minhash_band_index(docs, id_col="doc_id")
    write_join_bucketed(
        idx, "band_index_plan_test", str(tmp_path / "band_idx"), "bh", n_buckets=8
    )
    try:
        stored = spark.table("band_index_plan_test")
        new_bands = minhash_band_index(
            docs.withColumn("doc_id", F.col("doc_id") + 10_000), id_col="doc_id"
        )
        joined = new_bands.join(
            stored.withColumnRenamed("id", "corpus_id"), ["band", "bh"]
        )
        plan = explain_str(joined)
        # exactly one shuffle: the incoming side; the bucketed index scans
        # straight into the join
        from language_identification_spark.plans.asserts import count_exchanges

        assert "band_index_plan_test" in plan
        assert count_exchanges(joined) <= 1, plan
        assert joined.count() > 0  # identical docs -> same bands collide
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_plan_test")


def _assert_verify_shingles_semi_joined(df, sh_aliases):
    """Every verify-stage shingle Project (aliasing to the ``sh_*``
    output columns) must sit above a LeftSemi join on the candidate id
    set — i.e. the verify side is pruned to candidates first. Two
    legitimate shapes since the r7 shared-shingle-base rework: the
    cached base re-aliased directly above the semi-join
    (Project → LeftSemi), or — the corpus side of the incremental job,
    where shingles are computed ONLY after the semi-join (the whole
    point of candidate-first) — Project → ArrowEvalPython(shingles) →
    LeftSemi. The signature-stage shingle pass (plain ``sh``/``sig``)
    is intentionally not matched: it must see all docs."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if any(f" AS {a}#" in line for a in sh_aliases):
            hits += 1
            below = lines[i + 1]
            if "ArrowEvalPython" in below and "shingles" in below:
                below = lines[i + 2]
            assert "LeftSemi" in below, (
                f"verify shingle Project not above a candidate semi-join:\n"
                f"{line}\n{below}"
            )
    assert hits >= 2, f"expected >=2 verify shingle Projects, found {hits}\n{plan}"


def test_lsh_verify_candidate_first_plan(spark, sf_dir):
    """When the huge-candidate-set escape hatch is requested
    (candidate_first=True — see the r5 measured decision rule in the
    operator docstring), both LSH verify stages must actually semi-join
    the document sides on the candidate id set BEFORE re-shingling."""
    from language_identification_spark.operators import dedup
    from language_identification_spark.operators.cache import pair_cache_scope

    with pair_cache_scope():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        near = dedup.minhash_near_duplicates(
            docs.limit(100), threshold=0.5, candidate_first=True
        )
        _assert_verify_shingles_semi_joined(near, ("sh_a", "sh_b"))

        corpus = docs.filter("doc_id % 2 = 0")
        new = docs.filter("doc_id % 2 = 1")
        inc = dedup.incremental_near_duplicates(
            new, corpus, threshold=0.5, candidate_first=True
        )
        _assert_verify_shingles_semi_joined(inc, ("sh_n", "sh_c"))


def test_incremental_default_is_candidate_first(spark, sf_dir):
    """The fixed-harness r5 A/B made candidate-first the INCREMENTAL
    default (it wins in both broadcast regimes there, and the avoided
    corpus-side shingle pass is O(corpus)); pin that the no-flag call
    semi-joins before re-shingling."""
    from language_identification_spark.operators import dedup
    from language_identification_spark.operators.cache import pair_cache_scope

    with pair_cache_scope():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = docs.filter("doc_id % 2 = 0")
        new = docs.filter("doc_id % 2 = 1")
        inc = dedup.incremental_near_duplicates(new, corpus, threshold=0.5)
        _assert_verify_shingles_semi_joined(inc, ("sh_n", "sh_c"))


def test_lsh_verify_default_broadcasts_candidates(spark, sf_dir):
    """The r5 measured default (always-shingle): with a small candidate
    set the verify join BROADCASTS the candidate side, so the corpus's
    shingle arrays are scanned narrowly — never shuffled — and no
    LeftSemi appears in the verify plan."""
    from language_identification_spark.operators import dedup
    from language_identification_spark.operators.cache import pair_cache_scope

    with pair_cache_scope():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        near = dedup.minhash_near_duplicates(docs.limit(100), threshold=0.5)
        plan = near._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """r5 decontamination: the eval n-gram hash set must BROADCAST into
    the hit-marking LeftOuter join (the single-pass redesign replaced
    the earlier LeftSemi draft) — a SortMergeJoin here would shuffle
    every corpus n-gram hash against a benchmark-sized eval set, the
    plan this operator exists to avoid. The corpus explode subtree must
    appear exactly once (totals and hits from ONE aggregation)."""
    from language_identification_spark.operators.decontamination import (
        ngram_contamination,
    )
    from language_identification_spark.plans.asserts import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_contamination(
        docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0"), n=3
    )
    plan = explain_str(out)
    import re

    outers = re.findall(r"BroadcastHashJoin LeftOuter", plan)
    assert outers, plan
    assert "SortMergeJoin" not in plan, plan
    # one corpus pass: the n-gram explode runs once for totals AND hits
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2, plan  # corpus + eval


def test_sampling_is_shuffle_free(spark, sf_dir):
    """r5 corpus mixing: a deterministic sample is scan+filter — any
    Exchange means the operator stopped being a pushable predicate."""
    from language_identification_spark.operators.sampling import (
        stratified_hash_sample,
    )
    from language_identification_spark.plans.asserts import assert_no_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_hash_sample(docs, {"en": 0.5, "de": 0.1})
    assert_no_shuffle(out)


def test_host_filter_is_semi_join(spark, sf_dir):
    """r5 domain filtering: the verdict joins back as a semi-join (docs
    must not widen with stat columns), with no broadcast HINT — the
    regime is AQE's call because host tables can exceed the threshold."""
    from language_identification_spark.operators.domains import (
        filter_by_host,
        host_stats,
    )
    from language_identification_spark.plans.asserts import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    )
    out = filter_by_host(
        docs, host_stats(docs, value_col="n_chars"), F.col("n_docs") >= 2
    )
    plan = explain_str(out)
    assert "LeftSemi" in plan, plan
    assert "ResolvedHint" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """r5 chunking: split -> sequence -> posexplode -> slice is pure
    per-row work; any Exchange means it stopped fusing into the scan."""
    from language_identification_spark.operators.packing import (
        chunk_documents,
    )
    from language_identification_spark.plans.asserts import assert_no_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert_no_shuffle(chunk_documents(docs, chunk=32, stride=24))


def test_packing_is_one_window_per_shard(spark, sf_dir):
    """r5 packing: exactly ONE Exchange (on the shard key) feeding ONE
    Window — a second Exchange or a global (partitionless) window means
    the per-shard independence the operator promises is gone."""
    import re

    from language_identification_spark.operators.packing import (
        pack_sequences,
    )
    from language_identification_spark.plans.asserts import explain_str

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", F.col("n_chars").alias("n_tokens"))
    )
    plan = explain_str(pack_sequences(docs, 4096, shard_col="source"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "windowspecdefinition(source" in plan, plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """r5 DSIR: the B-row log-ratio table must BROADCAST into the
    corpus-side token join (SortMergeJoin there would shuffle every
    token's bucket row). r7: the per-token fold moved from the
    interpreted SQL ``aggregate`` HOF (per-character lambda eval) to one
    vectorized Arrow pass — so exactly ONE ArrowEvalPython (the bucket
    UDF over the persisted per_tok table) may appear, and no
    row-at-a-time BatchEvalPython ever."""
    import re

    from language_identification_spark.operators.cache import pair_cache_scope
    from language_identification_spark.operators.selection import (
        dsir_weights,
    )
    from language_identification_spark.plans.asserts import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pair_cache_scope():
        out = dsir_weights(
            docs.select("doc_id", "text"),
            docs.filter("lang = 'en'").select("doc_id", "text"),
            n_buckets=256,
        )
        plan = explain_str(out)
        head = plan.split("(1) Scan", 1)[0]  # tree section: corpus join on top
        assert "BroadcastHashJoin LeftOuter" in head, plan
        assert "BatchEvalPython" not in plan
        assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) <= 1, plan


def test_deterministic_shuffle_plan_no_global_sort(spark, sf_dir):
    """The training-order shuffle must be ONE hash Exchange on shard +
    per-shard local sorts — never a rangepartitioning Exchange (global
    sort), which would add a driver-coordinated sampling pass."""
    from language_identification_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from language_identification_spark.plans.asserts import physical_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = physical_plan(deterministic_shuffle(d, n_shards=8, salt="p"))
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.lower().count("exchange") == 1, plan
    assert "hashpartitioning(shard" in plan.lower().replace(" ", ""), plan


def test_bloom_probe_never_shuffles_text(spark, sf_dir):
    """The Bloom probe subplan (flags) must shuffle only (key,
    position/hit) pairs: no 'text' column may appear in any Exchange
    input of the flag computation."""
    from language_identification_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )
    from language_identification_spark.plans.asserts import physical_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    digests = d.select(F.sha2(F.col("text"), 256).alias("digest"))
    bloom = build_bloom(digests, "digest", 1 << 12, 3)
    probe = d.select("doc_id", F.sha2(F.col("text"), 256).alias("_digest"))
    flags = bloom_maybe_contains(probe, bloom, "_digest", "doc_id")
    plan = physical_plan(flags)
    # the probe side projects to (doc_id, word_idx, _bit) before any
    # exchange; text never rides a shuffle
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_repetition_arrow_udf_evaluates_once(spark):
    """r6: the gates' feature UDF extracts every struct field from ONE
    UDF result column — projection collapse must not duplicate the
    Python call. Pin: exactly one ArrowEvalPython node, and the plan
    stays shuffle-free."""
    from language_identification_spark.functions.text import (
        with_quality_features,
    )
    from language_identification_spark.plans.asserts import explain_str

    df = spark.createDataFrame([(i, "a b c a b") for i in range(4)], "i long, t string")
    out = with_quality_features(df, "t")
    import re

    plan = explain_str(out)
    # formatted explain names each node twice (tree + detail section);
    # count detail headers = physical node count
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    assert_no_shuffle(out)


def test_dunning_training_reads_corpus_once(spark, pages_df):
    """Building the Dunning model table runs no Spark job, and its
    executed plan has ONE Python count pass: the per-language totals
    reuse the (lang, feat) aggregate's exchange instead of recounting."""
    import re

    from language_identification_spark.models.train import train_dunning

    sc = spark.sparkContext
    group = "test-dunning-build"
    sc.setJobGroup(group, "train_dunning builds a plan only")
    try:
        model = train_dunning(pages_df.select("text", "lang"))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    model.collect()
    plan = model._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"MapInPandas", final)) == 1, plan
    assert "ReusedExchange" in final, plan


def test_langid_case_folding_stays_in_the_kernel(spark, pages_df):
    """Case folding is Python str.lower inside the gram kernels: the
    executed plans of the lowercasing trainers and of
    ``char_ngram_counts(lower=True)`` hold no Spark ``lower(``."""
    from language_identification_spark.functions.ngramcount import char_ngram_counts
    from language_identification_spark.models.train import (
        train_char_freq,
        train_dunning,
    )

    src = pages_df.select("text", "lang")
    for df in (
        train_char_freq(src),
        train_dunning(src),
        char_ngram_counts(src, 2, key_col="lang", lower=True),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lower(" not in plan, plan
