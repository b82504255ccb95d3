"""Local replica of the driver's correctness gate: run every queries()
entry and compare row-count + schema-width + order-insensitive values
against oracle_sql() through DuckDB (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from language_identification_spark.operators.cache import pair_cache_scope
from language_identification_spark.oracle.gate import gate_mismatch

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, sf_dir, duck):
    # run and materialize inside a cache scope: no persisted or
    # checkpointed block the query creates may outlive it
    jsc = spark.sparkContext._jsc
    before = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    with pair_cache_scope():
        sdf = QUERIES[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spdf = sdf.toPandas() if name in ORACLE else None
    after = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    assert after - before == set(), f"{name}: blocks outlive the scope"

    if name not in ORACLE:
        # rows-only check (driver's weaker mode)
        assert len(srows) >= 0
        return

    res = duck.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    err = gate_mismatch(
        scols, srows, spdf, dcols, drows, duck.execute(ORACLE[name]).df()
    )
    assert err is None, f"{name}: {err}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "keep_rate" in df.columns
