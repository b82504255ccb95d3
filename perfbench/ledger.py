"""Roll Spark's uncompressed event log up into per-label substrate totals.

Jobs carry the label the benchmark set around its own call
(``spark.jobGroup.id``); stages belong to jobs, tasks to stages. Python
worker time and Arrow bytes are SQL accumulators on each task.
"""

from __future__ import annotations

import glob
import json
import os

# Task Info accumulator name → ledger key (times in ms, sizes in bytes).
_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}
_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "jvm_gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", *_ACCUMS.values(),
)


def _events(event_dir: str):
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True))
    files += sorted(
        f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)
    )
    for fn in files:
        with open(fn) as fh:
            for line in fh:
                yield json.loads(line)


def roll_up(event_dir: str) -> dict[str, dict[str, float]]:
    """{label: totals} over every job in the log; unlabelled jobs roll up
    under ``""``."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(label: str) -> dict[str, float]:
        return out.setdefault(label, dict.fromkeys(_KEYS, 0))

    for e in _events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            a = acc(label)
            a["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_label[sid] = label
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            acc(stage_label.get(sid, ""))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            a = acc(stage_label.get(e["Stage ID"], ""))
            a["tasks"] += 1
            m = e.get("Task Metrics") or {}
            a["executor_run_ms"] += m.get("Executor Run Time", 0)
            a["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            a["jvm_gc_ms"] += m.get("JVM GC Time", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for u in (e.get("Task Info") or {}).get("Accumulables", []):
                key = _ACCUMS.get(u.get("Name"))
                if key is not None and u.get("Update") is not None:
                    a[key] += int(u["Update"])
    return out


def total(rolled: dict[str, dict[str, float]], labels) -> dict[str, float]:
    """Sum of the totals of ``labels``."""
    t = dict.fromkeys(_KEYS, 0)
    for lb in labels:
        for k, v in rolled.get(lb, {}).items():
            t[k] += v
    return t


def substrate(t: dict[str, float], wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one traced phase."""
    run_s = t["executor_run_ms"] / 1000
    return {
        "spark.jobs": t["jobs"],
        "spark.stages": t["stages"],
        "spark.tasks": t["tasks"],
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": t["executor_cpu_ns"] / 1e9,
        "spark.jvm_gc_s": t["jvm_gc_ms"] / 1000,
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.python_run_s": t["python_run_ms"] / 1000,
        "spark.core_idle_frac": 1 - run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }
