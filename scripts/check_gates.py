"""Local replica of the driver's correctness gate: run queries() on Spark
and oracle_sql() on DuckDB over the same sf parquet, compare row count,
name-sorted schema, and a value hash. Usage:

    python scripts/check_gates.py [query ...]        # default: all
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/check_gates.py
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{_norm_cell(v[k])}" for k in sorted(v)
        ) + "}"
    return str(v)


def _hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    want = sys.argv[1:]

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from language_identification_spark.operators.dedup import pair_cache_scope

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
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        rows_match = len(srows) == len(orows)
        schema_match = sorted(scols) == sorted(ocols)
        hash_match = (
            schema_match
            and _hash_rows(scols, srows) == _hash_rows(ocols, orows)
        )
        ok = rows_match and schema_match and hash_match
        n_bad += 0 if ok else 1
        print(
            f"{name}: {'PASS' if ok else 'FAIL'} rows={len(srows)}/{len(orows)}"
            f" schema={schema_match} hash={hash_match}"
        )
        if not schema_match:
            print(f"  spark cols:  {sorted(scols)}")
            print(f"  oracle cols: {sorted(ocols)}")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
