"""Local replica of the driver's correctness gate: run queries() on Spark
and oracle_sql() on DuckDB over the same sf parquet and compare them
with the one gate comparator (``oracle/gate.py``, the same rule as
tests/test_entry.py). Usage:

    python scripts/check_gates.py [query ...]        # default: all
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/check_gates.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    want = sys.argv[1:]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from language_identification_spark.oracle.gate import duck_views, run_gate

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("check_gates")
        .getOrCreate()
    )
    con = duck_views(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = want or list(qs)
    n_bad = 0
    for name in names:
        try:
            err, n_spark, n_oracle = run_gate(spark, con, qs[name], sf_dir, oracles.get(name))
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if n_oracle is None:
            print(f"{name}: no_oracle (rows={n_spark})")
            continue
        n_bad += 0 if err is None else 1
        print(
            f"{name}: {'PASS' if err is None else 'FAIL ' + err}"
            f" rows={n_spark}/{n_oracle}"
        )
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
