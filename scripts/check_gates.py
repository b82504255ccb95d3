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

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    want = sys.argv[1:]

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from language_identification_spark.operators.cache import pair_cache_scope
    from language_identification_spark.oracle.gate import gate_mismatch

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("check_gates")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = want or list(qs)
    n_bad = 0
    for name in names:
        try:
            # persists a query registers are released once it is collected
            with pair_cache_scope():
                sdf = qs[name](spark, sf_dir)
                scols = sdf.columns
                srows = sdf.collect()
                spdf = sdf.toPandas() if name in oracles else None
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"{name}: no_oracle (rows={len(srows)})")
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        err = gate_mismatch(scols, srows, spdf, ocols, orows, opdf)
        n_bad += 0 if err is None else 1
        print(
            f"{name}: {'PASS' if err is None else 'FAIL ' + err}"
            f" rows={len(srows)}/{len(orows)}"
        )
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
