"""The metric catalogue: end-to-end metrics by workload, and the
layer → per-layer metrics → end-to-end map written down before measuring.
``python3 perfbench/layers.py`` prints both as JSON.

The driver-checked subset lives in BENCHMARK.json: the end-to-end metrics
every workload produces, and the per-layer metrics every traced run
produces. The workload-scoped ones below are printed in each run's report
line and in the traced ledger.
"""

from __future__ import annotations

ALL = ("serve_fused", "quality_job", "langid_models", "dedup_near")

# name: (unit, better, workloads, definition)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher", ALL,
                   "input docs / wall time of the timed pass right after set-up (the median if a "
                   "run makes several)"),
    "setup_s": ("s", "lower", ALL,
                "get_spark + package zip/addPyFile + one warm-up job (+ train_quality_models "
                "on serve_fused); median of the run's set-ups"),
    "peak_rss_mb": ("MB", "lower", ALL,
                    "peak RSS of the process tree: driver Python, JVM and Python workers"),
    "train_s": ("s", "lower", ("quality_job", "langid_models"),
                "wall time of model training inside a timed pass; median over passes"),
    "resume_s": ("s", "lower", ("quality_job",),
                 "wall time of the resume call to run_resumable; median over passes"),
    "bytes_written_per_input_byte": ("ratio", "lower", ("quality_job",),
                                     "output parquet + lineage bytes / input parquet bytes"),
    "failed_frac": ("fraction", "lower", ALL,
                    "failed or output-mismatching operations / operations attempted"),
}

QUALITY = ("serve_fused", "quality_job")

# layer (module): ([metrics], workloads that exercise it, what they should
# move). Kernel layers are timed on the driver over each workload's docs.
LAYERS = {
    "session": (
        ["session.get_spark_s", "session.warmup_job_s"],
        ALL,
        "setup_s on every workload",
    ),
    "pipeline.quality": (
        ["quality.train_s", "quality.udf_python_run_s", "quality.udf_python_start_s",
         "quality.udf_python_init_s", "quality.arrow_to_python_bytes",
         "quality.arrow_from_python_bytes"],
        QUALITY,
        "train_s / docs_per_s on quality_job and serve_fused; the Arrow bytes separate "
        "fused (no norm_text return) from native",
    ),
    "models.hashed_ngram": (
        ["hashed_ngram.predict_labels_ms_per_kdoc", "hashed_ngram.featurize_counts_ms_per_kdoc"],
        ALL,
        "docs_per_s on serve_fused and quality_job; train_s on quality_job",
    ),
    "models.perplexity": (
        ["perplexity.perplexity_batch_ms_per_kdoc", "perplexity.bigram_counts_ms_per_kdoc"],
        ALL,
        "docs_per_s on serve_fused and quality_job; train_s on quality_job",
    ),
    "functions.text": (
        ["text.quality_features_batch_ms_per_kdoc"],
        ALL,
        "docs_per_s on serve_fused",
    ),
    "functions.scrub": (
        ["scrub.scrub_series_ms_per_kdoc"],
        ALL,
        "docs_per_s on serve_fused and quality_job",
    ),
    "pipeline.lineage": (
        ["lineage.first_pass_s", "lineage.resume_pass_s", "lineage.completed_buckets_s",
         "lineage.buckets_reprocessed", "lineage.output_files", "lineage.output_bytes"],
        ("quality_job",),
        "resume_s, docs_per_s, bytes_written_per_input_byte on quality_job",
    ),
    "models.train": (
        ["train.ngram_s", "train.char_freq_s", "train.markov_s", "train.cavnar_trenkle_s",
         "train.dunning_s"],
        ("langid_models",),
        "train_s on langid_models",
    ),
    "models.score": (
        ["score.ngram_udf_s", "score.char_freq_udf_s", "score.markov_udf_s",
         "score.cavnar_trenkle_udf_s", "score.dunning_udf_s", "score.ngram_relational_s"],
        ("langid_models",),
        "docs_per_s on langid_models",
    ),
    "operators.eval": (
        ["eval.classification_report_s"],
        ("langid_models",),
        "docs_per_s on langid_models",
    ),
    "operators.dedup": (
        ["dedup.minhash_near_duplicates_s", "dedup.dedup_components_s",
         "dedup.canonical_documents_s", "dedup.lsh_candidate_pairs", "dedup.verified_pairs",
         "dedup.verify_yield"],
        ("dedup_near",),
        "docs_per_s on dedup_near",
    ),
    "spark": (
        ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
         "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_read_bytes",
         "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.python_run_s",
         "spark.core_idle_frac"],
        ALL,
        "docs_per_s on every workload; core_idle_frac flags phases bound by the driver "
        "or fixed overhead",
    ),
    "trace": (
        ["trace.overhead_docs_per_s"],
        ALL,
        "nothing: traced docs_per_s minus untraced docs_per_s of the same run",
    ),
    "host": (
        ["host.steal_frac", "host.others_frac", "host.invalid_windows"],
        ALL,
        "nothing: explains outliers (hypervisor steal, co-tenant CPU)",
    ),
}


# The workloads BENCHMARK.json schedules. A run costs 25-30 s of JVM launch,
# set-ups and checks before its pass, so a few dozen runs per workload fit
# in an hour for two workloads, not four. These two cover the resumable
# production job and the paper's model families; serve_fused and
# dedup_near run on request (``--workload``, ``all``, the self-check).
SCHEDULED = ("quality_job", "langid_models")

# per_layer metrics of BENCHMARK.json: the ones every traced run produces.
TRACED = [m for metrics, wls, _ in LAYERS.values() if wls == ALL for m in metrics]

# end_to_end metrics of BENCHMARK.json: the ones every scheduled workload
# produces. failed_frac is 0 on a correct tree, so it travels as the result
# line's ``failed`` / ``attempted`` instead. peak_rss_mb stays in the
# report line: under the session's 8g driver heap the JVM grows its heap
# as its collector sees fit, and one input's peak RSS swings between
# about 3.9 and 6.5 GB from run to run.
DRIVER_E2E = [
    m for m, spec in END_TO_END.items()
    if set(SCHEDULED) <= set(spec[2]) and m not in ("failed_frac", "peak_rss_mb")
]


def unit(name: str) -> str:
    """The unit a metric is printed with."""
    if name in END_TO_END:
        return END_TO_END[name][0]
    for suffix, u in (("docs_per_s", "docs/s"), ("_ms_per_kdoc", "ms/kdoc"), ("_s", "s"),
                      ("_bytes", "bytes"), ("_frac", "fraction"), ("_yield", "fraction")):
        if name.endswith(suffix):
            return u
    return "count"


if __name__ == "__main__":
    import json

    print(json.dumps({
        "end_to_end": {m: {"unit": u, "better": b, "workloads": list(w), "definition": d}
                       for m, (u, b, w, d) in END_TO_END.items()},
        "layers": {layer: {"metrics": ms, "workloads": list(w), "moves": moves}
                   for layer, (ms, w, moves) in LAYERS.items()},
    }, indent=1))
