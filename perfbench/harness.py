"""Process-level plumbing shared by every workload: the Spark session and
its timed set-up, labelled spans around calls into the package, the
peak-RSS sampler of the whole process tree, and the host-contamination
record of every timed window.

Every path the benchmark touches lives under ``Harness.work`` inside the
checkout (``.perfbench_work``), including Spark's scratch space, the JVM's
temp dir, the package zip and the event log.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

from scripts.scale_probe import others_fraction, stat_snapshot, steal_fraction, window_valid

# Set-ups per run; the first also launches the JVM, so the median is a
# set-up inside an already-running JVM.
N_SETUPS = 3
# Bytes per page on Linux /proc/<pid>/statm.
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and read
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread recording the peak RSS of this process tree
    (driver Python, the JVM it launched, and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Harness:
    """One benchmark process: owns the work dir, the session and the
    records every workload reports from."""

    def __init__(self, root: str, work: str):
        self.root = root
        self.work = work
        # local[N] as get_spark picks it; read back once a session is up.
        self.cores = 0
        self.spark = None
        self.event_dir: str | None = None
        self.setup_times: list[float] = []
        self.setup_parts: list[dict] = []
        self.spans: list[dict] = []
        self.windows: list[dict] = []
        self._tmp_n = 0

    def reset(self) -> None:
        """Forget the previous workload's records (the session stays)."""
        self.setup_times, self.setup_parts = [], []
        self.spans, self.windows = [], []

    # -- session ---------------------------------------------------------
    def _confs(self, traced: bool) -> dict[str, str]:
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        confs = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # UsePerfData off: the JVM would write hsperfdata to /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        return confs

    def fresh_tmp(self) -> str:
        """A new temp dir for the package zip, so every set-up builds it."""
        self._tmp_n += 1
        d = os.path.join(self.work, "tmp", f"setup{self._tmp_n}")
        os.makedirs(d, exist_ok=True)
        tempfile.tempdir = d
        return d

    def start_session(self, traced: bool = False, extra=None) -> float:
        """Stop any running session, then time ``get_spark`` plus one
        warm-up job that starts the Python workers (and ``extra()``, the
        workload's own set-up). Returns the seconds taken."""
        from language_identification_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.fresh_tmp()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_confs=self._confs(traced))
        t1 = time.perf_counter()
        self.cores = self.spark.sparkContext.defaultParallelism
        self.warmup()
        t2 = time.perf_counter()
        if extra is not None:
            extra()
        t3 = time.perf_counter()
        self.setup_parts.append({"get_spark_s": t1 - t0, "warmup_job_s": t2 - t1})
        return t3 - t0

    def warmup(self) -> None:
        import pandas as pd

        def ident(it):
            for pdf in it:
                yield pd.DataFrame({"id": pdf["id"] * 2})

        n = self.spark.range(0, 4000, numPartitions=self.cores).mapInPandas(
            ident, "id long"
        ).count()
        if n != 4000:
            raise RuntimeError(f"warm-up job returned {n} rows")

    def setups(self, extra=None) -> None:
        """``N_SETUPS`` untraced set-ups; the last session stays up."""
        for _ in range(N_SETUPS):
            self.setup_times.append(self.start_session(False, extra))

    @property
    def setup_s(self) -> float:
        return statistics.median(self.setup_times)

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time one call into a layer and label its Spark jobs with
        ``name`` (the event-log roll-up groups jobs by this label)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec = {"name": name, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def span_s(self, name: str) -> list[float]:
        return [s["s"] for s in self.spans if s["name"] == name]

    def span_summary(self) -> dict[str, dict]:
        """Per span name: calls and median seconds."""
        return {
            name: {"calls": len(self.span_s(name)), "median_s": statistics.median(self.span_s(name))}
            for name in dict.fromkeys(s["name"] for s in self.spans)
        }

    # -- timed windows ---------------------------------------------------
    def timed_reps(self, rep, seconds: float) -> list[dict]:
        """Call ``rep()`` until ``seconds`` have passed (at least once).
        Each window records its wall time and the host's steal /
        co-tenant CPU share over it."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            s0 = stat_snapshot()
            t0 = time.perf_counter()
            info = rep() or {}
            wall = time.perf_counter() - t0
            s1 = stat_snapshot()
            w = {
                "wall_s": wall,
                "steal_frac": steal_fraction(s0, s1),
                "others_frac": others_fraction(s0, s1),
                "valid": window_valid(s0, s1),
                **info,
            }
            self.windows.append(w)
            out.append(w)
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited
        (its Python workers end with it)."""
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
