"""The four benchmark workloads. Each one generates its seeded input
(untimed), runs its timed phase as repeated calls into the package's
public functions, checks every output against the in-repo oracles
(untimed), and reports its metrics.

A workload's timed repetition is one closed-loop pass of the whole phase;
the reported throughput is the median over the passes of one run.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

import pandas as pd
from pyspark.sql import functions as F

from language_identification_spark.pipeline.quality import (
    run_quality_pipeline,
    train_quality_models,
)

from . import inputs
from .ledger import total

# Docs (or pages) per input at scale 1. A run is one process: JVM launch,
# three set-ups, one timed pass and the output checks, 25-30 s before the
# pass on a 4-core VM. There one pass at these sizes takes 2.5-3.5 s
# (serve_fused), 17-22 s (quality_job: ~4,100 fixture docs joined into 300
# pages), 20-27 s (langid_models) and 7-19 s (dedup_near: ~1,730 kept docs
# plus the planted copies), the range being co-tenant load. Spark's per-job
# cost, not per-doc work, fills most of the last three passes: quality_job
# at 150 pages took 16.8 s, so the second 2,000 docs cost 1.6 s. Per-doc
# kernel cost is the traced ``*_ms_per_kdoc`` ledger.
SIZES = {
    "serve_fused": 12_000,
    "quality_job": 300,
    "langid_models": 1_000,
    "dedup_near": 4_000,
}
# Docs checked against the quality-pipeline oracle per run.
ORACLE_SAMPLE = 1_500
N_BUCKETS = 16
NGRAM_N = 1
# The relational scorer sums floats JVM-side; it may flip this share of
# exact ties (as pinned by the model-parity tests).
RELATIONAL_TIE_FLIPS = 1 / 200


def _oracle_check(out: pd.DataFrame, pages: pd.DataFrame, models) -> tuple[int, int, dict]:
    """(docs checked, docs whose keep / lang_pred / scrubbed_text differ
    from ``oracle.pipeline.run_oracle_pipeline`` on the same docs, the
    oracle's keep fraction and per-rule drop counts)."""
    from language_identification_spark.oracle.pipeline import run_oracle_pipeline
    from language_identification_spark.pipeline.rules import RULE_SPECS, py_drop_reason

    want = run_oracle_pipeline(pages, models.langid, models.lm, models.stopwords)
    got = out.set_index("url")
    bad = 0
    for row in want.itertuples(index=False):
        if row.url not in got.index:
            bad += 1
            continue
        g = got.loc[row.url]
        if (
            bool(g["keep"]) != bool(row.keep)
            or g["lang_pred"] != row.lang_pred
            or g["scrubbed_text"] != row.scrubbed_text
        ):
            bad += 1
    cols = list(dict.fromkeys([c for _, c, _, _ in RULE_SPECS] + ["is_cjk"]))
    reasons = [
        py_drop_reason(r, r["lang_conf"], r["perplexity"])
        for r in want[cols].to_dict("records")
    ]
    return len(want), bad, inputs.rule_counts(reasons)


def _sample(pdf: pd.DataFrame, n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(f"sample::{seed}")
    idx = sorted(rng.sample(range(len(pdf)), min(n, len(pdf))))
    return pdf.iloc[idx]


class Workload:
    """One benchmark workload; each subclass docstring says why it exists."""

    name = ""

    def __init__(self, h, seed: int, scale: float):
        self.h = h
        self.seed = seed
        self.n = max(int(SIZES[self.name] * scale), 40)
        self.dir = os.path.join(h.work, self.name)
        os.makedirs(self.dir, exist_ok=True)
        self.models = None
        self.rules: dict = {}
        self.extra_e2e: dict[str, list[float]] = {}

    # Overridden per workload -------------------------------------------
    def generate(self) -> None:
        """Write the seeded input (no Spark session yet)."""

    def setup_extra(self) -> None:
        """Workload set-up counted in ``setup_s``."""

    def rep(self) -> dict:
        raise NotImplementedError

    def check(self) -> tuple[int, int, dict]:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Workload-scoped ledger entries needing the live session."""
        return {}

    def log_metrics(self, rolled: dict) -> dict:
        """Workload-scoped ledger entries from the rolled-up event log."""
        return {}

    # Shared ------------------------------------------------------------
    def pages(self):
        return self.h.spark.read.parquet(self.input_path)

    def span_median(self, name: str) -> float:
        return statistics.median(self.h.span_s(name))

    def note(self, key: str, value: float) -> None:
        self.extra_e2e.setdefault(key, []).append(value)

    def input_frame(self) -> pd.DataFrame:
        """The rows the program reads."""
        return self.pdf

    def kernel_docs(self) -> tuple[pd.Series, pd.Series]:
        return self.pdf["text"], self.pdf["lang"]

    def quality_models(self):
        """Models for the driver-side kernel timings."""
        if self.models is None:
            self.models = train_quality_models(
                self.pages().filter("split = 'train'").select("text", "lang")
            )
        return self.models


class ServeFused(Workload):
    """Short pages through the fused serving UDF into the noop sink: one
    narrow stage where the Python kernels and the Arrow transfer do the
    work; no shuffle, no write."""

    name = "serve_fused"

    def generate(self) -> None:
        self.pdf = inputs.fixture_pages(self.n, self.seed)
        self.input_path = os.path.join(self.dir, "pages")
        self.input_bytes = inputs.write_parquet(self.pdf, self.input_path)

    def setup_extra(self) -> None:
        with self.h.span("quality.train_quality_models"):
            self.models = train_quality_models(
                self.pages().filter("split = 'train'").select("text", "lang")
            )

    def rep(self) -> dict:
        h = self.h
        with h.span("quality.run_quality_pipeline"):
            run_quality_pipeline(
                h.spark, self.pages(), self.models, heuristics="fused"
            ).write.format("noop").mode("overwrite").save()
        return {"docs": self.n}

    def check(self) -> tuple[int, int, dict]:
        sample = _sample(self.pdf, ORACLE_SAMPLE, self.seed)
        out = (
            run_quality_pipeline(
                self.h.spark,
                self.pages().filter(F.col("url").isin(sample["url"].tolist())),
                self.models,
                heuristics="fused",
            )
            .select("url", "keep", "lang_pred", "scrubbed_text")
            .toPandas()
        )
        n, bad, self.rules = _oracle_check(out, sample, self.models)
        return n, bad, {"oracle_docs": n, "oracle_mismatches": bad}

    def layer_metrics(self) -> dict:
        return {"quality.train_s": self.span_median("quality.train_quality_models")}

    def log_metrics(self, rolled: dict) -> dict:
        return _udf_metrics(total(rolled, ["quality.run_quality_pipeline"]))


def _udf_metrics(t: dict) -> dict:
    """The quality UDF's Python-worker time and Arrow bytes each way."""
    return {
        "quality.udf_python_run_s": t["python_run_ms"] / 1000,
        "quality.udf_python_start_s": t["python_start_ms"] / 1000,
        "quality.udf_python_init_s": t["python_init_ms"] / 1000,
        "quality.arrow_to_python_bytes": t["arrow_to_python_bytes"],
        "quality.arrow_from_python_bytes": t["arrow_from_python_bytes"],
    }


class QualityJob(Workload):
    """The resumable production job on long joined pages: train, an
    interrupted pass over half the url-hash buckets, then the resume that
    must finish exactly the other half. Writes beside reads."""

    name = "quality_job"

    def generate(self) -> None:
        self.pdf = inputs.joined_pages(self.n, self.seed)
        self.input_path = os.path.join(self.dir, "pages")
        self.input_bytes = inputs.write_parquet(self.pdf, self.input_path)
        self.n_rep = 0

    def rep(self) -> dict:
        h, spark = self.h, self.h.spark
        self.n_rep += 1
        out_dir = os.path.join(self.dir, f"out{self.n_rep}")
        lin_dir = os.path.join(self.dir, f"lineage{self.n_rep}")
        pages = self.pages()
        from language_identification_spark.pipeline.lineage import run_resumable

        with h.span("quality.train_quality_models") as tr:
            self.models = train_quality_models(
                pages.filter("split = 'train'").select("text", "lang")
            )
        kill = set(range(0, N_BUCKETS, 2))
        with h.span("lineage.run_resumable.first"):
            done1 = run_resumable(
                spark, pages, self.models, out_dir, lin_dir,
                n_buckets=N_BUCKETS, only_buckets=kill,
            )
        with h.span("lineage.run_resumable.resume") as res:
            done2 = run_resumable(
                spark, pages, self.models, out_dir, lin_dir, n_buckets=N_BUCKETS
            )
        written = inputs.dir_bytes(out_dir) + inputs.dir_bytes(lin_dir)
        self.note("train_s", tr["s"])
        self.note("resume_s", res["s"])
        self.note("bytes_written_per_input_byte", written / self.input_bytes)
        self.last = (out_dir, lin_dir, done1, done2, kill)
        # Earlier passes' outputs are not read again.
        for k in range(1, self.n_rep):
            for d in (f"out{k}", f"lineage{k}"):
                shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
        return {"docs": self.n}

    def check(self) -> tuple[int, int, dict]:
        from language_identification_spark.pipeline.lineage import (
            completed_buckets,
            input_snapshot_id,
        )

        spark = self.h.spark
        out_dir, lin_dir, done1, done2, kill = self.last
        lin = spark.read.parquet(lin_dir).toPandas()
        reprocessed = len(set(done1) & set(done2))
        checks = {
            "lineage_n_input_sum": int(lin["n_input"].sum()) == len(self.pdf),
            "lineage_one_row_per_bucket": sorted(lin["bucket"]) == list(range(N_BUCKETS)),
            "first_pass_is_kill_set": set(done1) == kill,
            "resume_is_complement": set(done2) == set(range(N_BUCKETS)) - kill,
            "no_bucket_reprocessed": reprocessed == 0,
        }
        with self.h.span("lineage.completed_buckets"):
            done = completed_buckets(spark, lin_dir, input_snapshot_id(self.pages()))
        checks["completed_buckets_all"] = done == set(range(N_BUCKETS))
        sample = _sample(self.pdf, ORACLE_SAMPLE, self.seed)
        out = (
            spark.read.parquet(out_dir)
            .filter(F.col("url").isin(sample["url"].tolist()))
            .select("url", "keep", "lang_pred", "scrubbed_text")
            .toPandas()
        )
        n, bad, self.rules = _oracle_check(out, sample, self.models)
        n_out = spark.read.parquet(out_dir).count()
        checks["output_rows_equal_input"] = n_out == len(self.pdf)
        failed = bad + sum(1 for ok in checks.values() if not ok)
        files = sum(
            1 for _, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")
        )
        self.lineage = {
            "lineage.buckets_reprocessed": reprocessed,
            "lineage.output_files": files,
            "lineage.output_bytes": inputs.dir_bytes(out_dir),
        }
        return n + len(checks), failed, {
            "oracle_docs": n, "oracle_mismatches": bad,
            **{k: bool(v) for k, v in checks.items()},
        }

    def layer_metrics(self) -> dict:
        med = self.span_median
        return {
            "quality.train_s": med("quality.train_quality_models"),
            "lineage.first_pass_s": med("lineage.run_resumable.first"),
            "lineage.resume_pass_s": med("lineage.run_resumable.resume"),
            "lineage.completed_buckets_s": med("lineage.completed_buckets"),
            **self.lineage,
        }

    def log_metrics(self, rolled: dict) -> dict:
        return _udf_metrics(
            total(rolled, ["lineage.run_resumable.first", "lineage.run_resumable.resume"])
        )


def _heuristic_reasons(texts) -> list:
    """First failing rule per text (None = kept), over the rules that need
    no model: ``py_drop_reason``, the oracle twin of
    ``pipeline.rules.drop_reason_expr``, without lang_conf / perplexity."""
    from language_identification_spark.functions.text import py_norm, py_quality_features
    from language_identification_spark.pipeline.rules import py_drop_reason

    return [py_drop_reason(py_quality_features(py_norm(t or ""))) for t in texts]


FAMILIES = ("ngram", "char_freq", "markov", "cavnar_trenkle", "dunning")


class LangidModels(Workload):
    """The paper's experiment: the five reference model families trained
    on the train split and scored on the test split, then the
    classification report. Shuffles, windowed aggregates, grouped
    applyInPandas and per-doc Python scorers; never the quality UDF."""

    name = "langid_models"

    def generate(self) -> None:
        self.pdf = inputs.langid_corpus(self.n, self.seed)
        self.input_path = os.path.join(self.dir, "corpus")
        self.input_bytes = inputs.write_parquet(self.pdf, self.input_path)

    def rep(self) -> dict:
        from language_identification_spark.models import score as sc
        from language_identification_spark.models import train as tr
        from language_identification_spark.operators.eval import classification_report

        h, spark = self.h, self.h.spark
        df = self.pages()
        train = df.filter("split = 'train'")
        test = df.filter("split = 'test'").select("doc_idx", "text", "lang")
        trainers = {
            "ngram": lambda: tr.train_ngram_lm(train, n=NGRAM_N),
            "char_freq": lambda: tr.train_char_freq(train),
            "markov": lambda: tr.train_markov(train),
            "cavnar_trenkle": lambda: tr.train_cavnar_trenkle(train),
            "dunning": lambda: tr.train_dunning(train),
        }
        tables, dicts = {}, {}
        train_s = 0.0
        for fam, fn in trainers.items():
            with h.span(f"train.{fam}") as s:
                tables[fam] = fn()
                dicts[fam] = tr.model_table_to_dict(tables[fam], fam)
            train_s += s["s"]
        udfs = {
            "ngram": lambda: sc.make_ngram_predict_udf(spark, dicts["ngram"], NGRAM_N, tr.NGRAM_SMOOTHING),
            "char_freq": lambda: sc.make_char_freq_predict_udf(spark, dicts["char_freq"], tr.CHARFREQ_SMOOTHING),
            "markov": lambda: sc.make_markov_predict_udf(spark, dicts["markov"], tr.MARKOV_SMOOTHING),
            "cavnar_trenkle": lambda: sc.make_cavnar_trenkle_predict_udf(spark, dicts["cavnar_trenkle"]),
            "dunning": lambda: sc.make_dunning_predict_udf(spark, dicts["dunning"], tr.DUNNING_SMOOTHING),
        }
        preds = {}
        for fam, mk in udfs.items():
            with h.span(f"score.{fam}_udf"):
                udf = mk()
                preds[fam] = {
                    r["doc_idx"]: r["p"]
                    for r in test.select("doc_idx", udf(F.col("text")).alias("p")).collect()
                }
        with h.span("score.ngram_relational"):
            rel = sc.score_ngram_relational(
                test, tables["ngram"], n=NGRAM_N, smoothing=tr.NGRAM_SMOOTHING, id_col="doc_idx"
            )
            preds["relational"] = {r["doc_idx"]: r["lang_pred"] for r in rel.collect()}
        with h.span("eval.classification_report"):
            labelled = self.test_pdf.assign(
                lang_pred=self.test_pdf["doc_idx"].map(preds["ngram"])
            )
            report = classification_report(
                spark.createDataFrame(labelled[["lang", "lang_pred"]])
            ).collect()
        self.note("train_s", train_s)
        self.last = (preds, report)
        return {"docs": len(self.pdf)}

    @property
    def test_pdf(self) -> pd.DataFrame:
        return self.pdf[self.pdf["split"] == "test"]

    def check(self) -> tuple[int, int, dict]:
        from language_identification_spark.oracle import reference as ref

        preds, report = self.last
        train = self.pdf[self.pdf["split"] == "train"]
        texts, labels = train["text"].tolist(), train["lang"].tolist()
        test = self.test_pdf
        oracles = {
            "ngram": ref.NgramLM(n=NGRAM_N),
            "char_freq": ref.CharFrequency(),
            "markov": ref.MarkovChain(),
            "cavnar_trenkle": ref.CavnarTrenkle(),
            "dunning": ref.Dunning(),
        }
        want = {}
        for fam, m in oracles.items():
            m.train(texts, labels)
            want[fam] = dict(zip(test["doc_idx"], m.predict(test["text"].tolist())))
        attempted, failed, detail = 0, 0, {}
        for fam in FAMILIES:
            bad = sum(1 for k, v in want[fam].items() if preds[fam].get(k) != v)
            attempted += len(want[fam])
            failed += bad
            detail[f"{fam}_mismatches"] = bad
        flips = sum(1 for k, v in want["ngram"].items() if preds["relational"].get(k) != v)
        detail["relational_tie_flips"] = flips
        attempted += 1
        if flips > max(1, int(len(test) * RELATIONAL_TIE_FLIPS)):
            failed += 1
        # The report's supports must add up to the test split.
        attempted += 1
        if sum(r["support"] for r in report) != len(test):
            failed += 1
        detail["report_classes"] = len(report)
        self.rules = inputs.rule_counts(
            _heuristic_reasons(_sample(self.pdf, ORACLE_SAMPLE, self.seed)["text"])
        )
        return attempted, failed, detail

    def layer_metrics(self) -> dict:
        med = self.span_median
        out = {f"train.{fam}_s": med(f"train.{fam}") for fam in FAMILIES}
        out.update({f"score.{fam}_udf_s": med(f"score.{fam}_udf") for fam in FAMILIES})
        out["score.ngram_relational_s"] = med("score.ngram_relational")
        out["eval.classification_report_s"] = med("eval.classification_report")
        return out


class DedupNear(Workload):
    """MinHash near-duplicates, then components, then canonical documents
    over kept pages plus planted near-duplicate clusters: the only
    workload in operators.dedup. Fed keep=true pages because production
    dedups after filtering."""

    name = "dedup_near"

    def generate(self) -> None:
        """Production dedups after filtering: the pages the model-free
        rules keep, then the planted clusters. Docs shorter than the
        shingle width never pass ``too_few_chars``."""
        self.raw = inputs.fixture_pages(self.n, self.seed)
        self.raw_path = os.path.join(self.dir, "raw")
        inputs.write_parquet(self.raw, self.raw_path)
        reasons = _heuristic_reasons(self.raw["text"])
        self.rules = inputs.rule_counts(reasons)
        kept = self.raw[[r is None for r in reasons]].reset_index(drop=True)
        self.pdf = kept.assign(doc_id=range(len(kept)))
        self.docs, self.clusters = inputs.plant_near_dups(
            self.pdf, max(len(kept) // 50, 4), self.seed
        )
        self.input_path = os.path.join(self.dir, "docs")
        self.input_bytes = inputs.write_parquet(self.docs, self.input_path)

    def rep(self) -> dict:
        from language_identification_spark.operators import dedup

        h, spark = self.h, self.h.spark
        docs = self.pages()
        with dedup.pair_cache_scope():
            with h.span("dedup.minhash_near_duplicates"):
                pairs = dedup.minhash_near_duplicates(docs, id_col="doc_id", text_col="text")
                rows = pairs.select("id_a", "id_b").collect()
            pairs_df = spark.createDataFrame(rows, "id_a long, id_b long")
            with h.span("dedup.dedup_components"):
                comps = {
                    r["id"]: r["canonical_id"]
                    for r in dedup.dedup_components(pairs_df).collect()
                }
            with h.span("dedup.canonical_documents"):
                kept = {
                    r["doc_id"]
                    for r in dedup.canonical_documents(docs, pairs_df, id_col="doc_id")
                    .select("doc_id")
                    .collect()
                }
        self.last = (rows, comps, kept)
        return {"docs": len(self.docs), "pairs": len(rows)}

    def check(self) -> tuple[int, int, dict]:
        rows, comps, kept = self.last
        # Oracle components: union-find over the verified pairs.
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = find(r["id_a"]), find(r["id_b"])
            parent[max(a, b)] = min(a, b)
        want = {x: find(x) for x in parent}
        failed = sum(1 for x, c in want.items() if comps.get(x) != c)
        failed += len(set(comps) - set(want))
        collapsed = 0
        for members in self.clusters:
            labels = {comps.get(m) for m in members}
            if len(labels) == 1 and None not in labels and labels.pop() <= min(members):
                collapsed += 1
        all_ids = set(self.docs["doc_id"])
        want_kept = {x for x in all_ids if want.get(x, x) == x}
        kept_bad = len(kept ^ want_kept)
        failed += (len(self.clusters) - collapsed) + kept_bad
        return len(want) + len(self.clusters) + len(all_ids), failed, {
            "verified_pairs": len(rows),
            "planted_clusters": len(self.clusters),
            "planted_collapsed": collapsed,
            "canonical_mismatches": kept_bad,
        }

    def input_frame(self) -> pd.DataFrame:
        return self.docs

    def kernel_docs(self) -> tuple[pd.Series, pd.Series]:
        return self.raw["text"], self.raw["lang"]

    def quality_models(self):
        if self.models is None:
            raw = self.h.spark.read.parquet(self.raw_path)
            self.models = train_quality_models(
                raw.filter("split = 'train'").select("text", "lang")
            )
        return self.models

    def layer_metrics(self) -> dict:
        from language_identification_spark.operators import dedup

        h, med = self.h, self.span_median
        with dedup.pair_cache_scope():
            with h.span("dedup.lsh_candidates"):
                sigs = dedup.minhash_signatures(self.pages(), id_col="doc_id", text_col="text")
                n_cand = dedup.minhash_lsh_candidates(sigs).count()
        n_ver = len(self.last[0])
        return {
            "dedup.minhash_near_duplicates_s": med("dedup.minhash_near_duplicates"),
            "dedup.dedup_components_s": med("dedup.dedup_components"),
            "dedup.canonical_documents_s": med("dedup.canonical_documents"),
            "dedup.lsh_candidate_pairs": n_cand,
            "dedup.verified_pairs": n_ver,
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (ServeFused, QualityJob, LangidModels, DedupNear)}
