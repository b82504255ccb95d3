"""Local replica of the driver's correctness gate: run every queries()
entry and compare row-count + schema-width + order-insensitive values
against oracle_sql() through DuckDB (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from language_identification_spark.oracle.gate import duck_views, run_gate


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_views(sf_dir)


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, sf_dir, duck):
    # run and materialize inside a cache scope: no persisted or
    # checkpointed block the query creates may outlive it; queries
    # without an oracle get the driver's weaker rows-only check
    jsc = spark.sparkContext._jsc
    before = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    err, _, _ = run_gate(spark, duck, QUERIES[name], sf_dir, ORACLE.get(name))
    after = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    assert after - before == set(), f"{name}: blocks outlive the scope"
    assert err is None, f"{name}: {err}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "keep_rate" in df.columns
