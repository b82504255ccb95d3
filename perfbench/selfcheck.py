"""Toy-size self-check of the benchmark: runs all four workloads from one
process, untraced and traced, and asserts that every output check passed
and every named metric was printed with its unit, and that BENCHMARK.json
lists the scheduled workloads and metrics of ``layers``.

    python3 perfbench/selfcheck.py

Takes a few minutes (two JVM launches, four small workloads each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402

TOY = ["--workload", "all", "--seed", "7", "--seconds", "1", "--scale", "0.05"]


def run(trace: int) -> tuple[list[dict], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *TOY, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py --trace {trace} exited {proc.returncode}")
    return [json.loads(ln) for ln in lines[:-1]], json.loads(lines[-1])


def missing_metrics(reports: list[dict], result: dict, trace: int) -> list[str]:
    out = []
    for rep in reports:
        name = rep["workload"]
        if trace:
            wanted = [m for metrics, wls, _ in layers.LAYERS.values() if name in wls
                      for m in metrics]
            got = rep["ledger"]
            driver = layers.TRACED
        else:
            wanted = [m for m, spec in layers.END_TO_END.items() if name in spec[2]]
            got = rep["end_to_end"]
            driver = layers.DRIVER_E2E
        out += [f"{name}: {m}" for m in wanted if m not in got]
        if name not in layers.SCHEDULED:
            continue
        for m in driver:
            entry = result["metrics"].get(f"{name}.{m}")
            if entry is None or entry.get("unit") != layers.unit(m):
                out.append(f"{name}: {m} (result line)")
    return out


def benchmark_json_problems() -> list[str]:
    """BENCHMARK.json must list what layers.py says the runs print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        "workloads": list(layers.SCHEDULED),
        "end_to_end": [(m, layers.unit(m)) for m in layers.DRIVER_E2E],
        "per_layer": [(m, layers.unit(m)) for m in layers.TRACED],
    }
    got = {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        "per_layer": [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }
    return [f"BENCHMARK.json {k}: {got[k]} != {want[k]}" for k in want if got[k] != want[k]]


def main() -> int:
    problems = benchmark_json_problems()
    for trace in (0, 1):
        reports, result = run(trace)
        if sorted(r["workload"] for r in reports) != sorted(layers.ALL):
            problems.append(f"trace {trace}: workloads {[r['workload'] for r in reports]}")
        if not result["correct"] or result["failed"]:
            problems.append(f"trace {trace}: output checks failed: {result}")
        problems += [f"trace {trace}: missing {m}" for m in missing_metrics(reports, result, trace)]
    for p in problems:
        print(p)
    print("selfcheck:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
