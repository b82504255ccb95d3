"""One scaling measurement in an isolated process: scale_probe.py CORES
[MULT]. Prints one JSON line. Used by bench.py --scaling via subprocess so
JVM/python-worker state can't leak between parallelism levels."""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from language_identification_spark.pipeline.quality import (  # noqa: E402
    run_quality_pipeline,
    train_quality_models,
)
from language_identification_spark.session import get_spark  # noqa: E402


def _our_cpu_jiffies() -> int:
    """Total utime+stime+cutime+cstime of every process visible in our
    PID namespace (= our own process tree on this sandbox)."""
    import glob

    tot = 0
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            f = open(p).read().rsplit(")", 1)[1].split()
            tot += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            pass  # process exited between glob and read (read can also
            # return an empty/truncated string, not just raise)
    return tot


def stat_snapshot() -> tuple[list[int], int, float]:
    """(/proc/stat cpu jiffies, our-process-tree jiffies, monotonic now)."""
    v = list(map(int, open("/proc/stat").readline().split()[1:]))
    return v, _our_cpu_jiffies(), time.monotonic()


def steal_fraction(before: tuple, after: tuple, ncpu: int | None = None) -> float:
    """Fraction of the window's CPU capacity stolen by the hypervisor
    (field 8 of /proc/stat) — theft from OUTSIDE the host."""
    (v0, _, t0), (v1, _, t1) = before, after
    ncpu = ncpu or os.cpu_count() or 32
    cap = max((t1 - t0) * 100.0 * ncpu, 1.0)  # CLK_TCK=100
    return (v1[7] - v0[7]) / cap


def others_fraction(before: tuple, after: tuple, ncpu: int | None = None) -> float:
    """Fraction of the window's CPU capacity burned by processes that are
    NOT ours: host-wide busy jiffies (/proc/stat is host-scoped here)
    minus our own process tree's jiffies (our PID namespace shows only our
    processes). This is the signal that catches co-tenant bursts INSIDE
    the shared host, which steal cannot see and which our PID namespace
    hides — measured 0.57× "speedups" trace back to exactly this."""
    (v0, o0, t0), (v1, o1, t1) = before, after
    ncpu = ncpu or os.cpu_count() or 32
    cap = max((t1 - t0) * 100.0 * ncpu, 1.0)
    # steal (v[7]) is deliberately EXCLUDED from the busy sum: it is gated
    # separately by steal_fraction, and counting it here would double-bill
    # hypervisor theft against the co-tenant threshold.
    busy0 = v0[0] + v0[1] + v0[2] + v0[5] + v0[6]
    busy1 = v1[0] + v1[1] + v1[2] + v1[5] + v1[6]
    return max((busy1 - busy0) - (o1 - o0), 0) / cap


STEAL_OK = 0.05   # ≤5% of capacity stolen by the hypervisor
OTHERS_OK = 0.08  # ≤8% of capacity burned by co-tenant processes


def window_valid(before: tuple, after: tuple, ncpu: int | None = None) -> bool:
    return (
        steal_fraction(before, after, ncpu) <= STEAL_OK
        and others_fraction(before, after, ncpu) <= OTHERS_OK
    )


def _burn(secs: float) -> int:
    t0 = time.monotonic()
    x = 0
    while time.monotonic() - t0 < secs:
        x += 1
    return x


def cpu_ceiling(cores: int, secs: float = 2.0) -> float:
    """Per-core relative throughput with `cores` busy CPUs (pure-Python
    busy loop, cache-resident). On this virtualized Xeon, 32 busy cores
    run each core at ~68% of its 8-busy-core speed — a hypervisor power
    cap that bounds ANY workload's raw 8→32 scaling efficiency."""
    import multiprocessing as mp

    with mp.Pool(cores) as p:
        res = p.map(_burn, [secs] * cores)
    return sum(res) / len(res) / secs


def main() -> None:
    cores = int(sys.argv[1])
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    corpus = os.path.join(tempfile.gettempdir(), f"scale_corpus_{mult}")

    spark = get_spark(
        f"scale_{cores}",
        cores=cores,
        extra_confs={
            # Target ~128 scan partitions (≥4 waves at 32 cores): default
            # bin-packing coalesces the 128 small files into ~43 tasks =
            # 1.3 waves at 32 cores, wasting ~30% of the job in tail idle
            # while the last wave drains.
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        paths = [os.path.join(sf_dir, "documents.parquet")] * mult
        docs = spark.read.parquet(*paths).select(
            F.concat(F.lit("doc://"), F.monotonically_increasing_id().cast("string")).alias("url"),
            "text",
            "lang",
        )
        docs.repartition(128).write.mode("overwrite").parquet(corpus)

    models = train_quality_models(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("text", "lang")
    )
    pages = spark.read.parquet(corpus)
    n = pages.count()

    def run() -> float:
        t0 = time.monotonic()
        run_quality_pipeline(spark, pages, models).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.monotonic() - t0

    run()  # warm-up (JIT, python workers, page cache)
    runs: list[tuple[float, float, float, bool]] = []  # (wall, steal, others, ok)
    attempts = 0
    while sum(1 for r in runs if r[3]) < n_runs and attempts < 2 * n_runs + 2:
        attempts += 1
        s0 = stat_snapshot()
        w = run()
        s1 = stat_snapshot()
        runs.append(
            (w, steal_fraction(s0, s1), others_fraction(s0, s1), window_valid(s0, s1))
        )
    valid = [r for r in runs if r[3]] or runs
    wall, steal, others, ok = min(valid)
    print(json.dumps({"cores": cores, "docs": n, "wall_s": round(wall, 3),
                      "docs_per_sec": round(n / wall, 1),
                      "steal_frac": round(steal, 4),
                      "others_frac": round(others, 4),
                      "window_valid": ok,
                      "run_windows": [
                          {"wall_s": round(w_, 3), "steal": round(st, 4),
                           "others": round(ot, 4), "valid": ok_}
                          for w_, st, ot, ok_ in runs
                      ]}))


if __name__ == "__main__":
    main()
