"""Repository benchmark: four seeded workloads over the package's public
functions, on ``local[$(nproc)]`` from one driver process. BENCHMARK.json
schedules two of them (``layers.SCHEDULED``); the other two run on request.

    python3 perfbench/run.py --workload serve_fused --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run it from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of BENCHMARK.json. The line above it is the run's full report
(input descriptor, output checks, workload-scoped metrics, host windows
and, when traced, the per-layer ledger); the same report is written to
``.perfbench_out/``. The exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def run_workload(h, name: str, seed: int, seconds: float, trace: bool, scale: float) -> dict:
    from perfbench.harness import RssSampler
    from perfbench.inputs import descriptor
    from perfbench.workloads import WORKLOADS

    h.reset()
    w = WORKLOADS[name](h, seed, scale)
    phases = {}
    t = time.perf_counter()
    w.generate()
    phases["generate_s"] = time.perf_counter() - t
    with RssSampler() as rss:
        h.setups(w.setup_extra)
        # The timed phase starts right after set-up, as a one-shot job
        # sees it: the JVM and the Python workers are up, the workload's
        # own plans not yet compiled.
        reps = h.timed_reps(w.rep, seconds)
        docs_per_s = statistics.median(r["docs"] / r["wall_s"] for r in reps)
        scoped = {k: statistics.median(v) for k, v in w.extra_e2e.items()}
        if trace:
            # Tracing overhead compares warm passes: untraced, then traced
            # in a new session with the event log on.
            warm = h.timed_reps(w.rep, seconds / 2)
            h.event_dir = os.path.join(h.work, "events", name)
            traced_setup_s = h.start_session(True, w.setup_extra)
            first = len(h.spans)
            traced = h.timed_reps(w.rep, seconds / 2)
            traced_labels = {s["name"] for s in h.spans[first:]}
        t = time.perf_counter()
        attempted, failed, detail = w.check()
        phases["check_s"] = time.perf_counter() - t
        if trace:
            ledger = _ledger(h, w, warm, traced, traced_setup_s)
    if trace:
        from perfbench.ledger import roll_up, substrate, total

        h.stop()
        rolled = roll_up(h.event_dir)
        wall = sum(r["wall_s"] for r in traced)
        ledger.update(substrate(total(rolled, traced_labels), wall, h.cores))
        ledger.update(w.log_metrics(rolled))
    attempted += len(reps)
    e2e = {
        "docs_per_s": docs_per_s,
        "setup_s": h.setup_s,
        "peak_rss_mb": rss.peak / 2**20,
        **scoped,
        "failed_frac": failed / attempted,
    }
    report = {
        "workload": name,
        "seed": seed,
        "scale": scale,
        "cores": h.cores,
        "input": {**descriptor(w.input_frame()), **w.rules},
        "checks": detail,
        "end_to_end": e2e,
        "setups": h.setup_parts,
        "windows": h.windows,
        "spans": h.span_summary(),
        "phases": phases,
    }
    if trace:
        report["ledger"] = ledger
    return {"attempted": attempted, "failed": failed, "report": report}


def _ledger(h, w, warm, traced, traced_setup_s) -> dict:
    from perfbench.kernels import kernel_ms_per_kdoc

    untraced_dps = statistics.median(r["docs"] / r["wall_s"] for r in warm)
    traced_dps = statistics.median(r["docs"] / r["wall_s"] for r in traced)
    texts, langs = w.kernel_docs()
    windows = h.windows
    out = {
        "session.get_spark_s": statistics.median(p["get_spark_s"] for p in h.setup_parts),
        "session.warmup_job_s": statistics.median(p["warmup_job_s"] for p in h.setup_parts),
        "session.traced_setup_s": traced_setup_s,
        **kernel_ms_per_kdoc(texts, langs, w.quality_models()),
        **w.layer_metrics(),
        "trace.docs_per_s": traced_dps,
        "trace.overhead_docs_per_s": traced_dps - untraced_dps,
        "host.steal_frac": statistics.median(x["steal_frac"] for x in windows),
        "host.others_frac": statistics.median(x["others_frac"] for x in windows),
        "host.invalid_windows": sum(1 for x in windows if not x["valid"]),
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="serve_fused, quality_job, langid_models, dedup_near or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-check runs toy inputs)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "language_identification_spark")):
        print("perfbench: no language_identification_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _isolate(work)

    from perfbench import layers
    from perfbench.harness import Harness
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    h = Harness(ROOT, work)
    results = []
    try:
        for name in names:
            results.append(
                run_workload(h, name, args.seed, args.seconds, bool(args.trace), args.scale)
            )
    finally:
        h.close()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for r in results:
        rep = r["report"]
        with open(os.path.join(
            out_dir, f"{rep['workload']}-seed{args.seed}-trace{args.trace}.json"
        ), "w") as fh:
            json.dump(rep, fh, indent=1, sort_keys=True)
        print(json.dumps(rep, sort_keys=True))

    metrics = {}
    for r in results:
        rep = r["report"]
        source = rep["ledger"] if args.trace else rep["end_to_end"]
        keys = layers.TRACED if args.trace else layers.DRIVER_E2E
        prefix = f"{rep['workload']}." if len(results) > 1 else ""
        for k in keys:
            if k in source:
                metrics[prefix + k] = {"value": source[k], "unit": layers.unit(k)}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
