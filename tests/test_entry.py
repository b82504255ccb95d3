"""Local replica of the driver's correctness gate: run every queries()
entry and compare row-count + schema-width + order-insensitive values
against oracle_sql() through DuckDB (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from language_identification_spark.operators import dedup

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


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact repr: mirrors a strict value-hash — the rounding discipline
        # in queries()/oracle_sql() must make floats bit-identical
        return repr(v)
    return str(v)


def _norm_rows(cols, rows):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return sorted(c for c in cols), out


def _pandas_canon(pdf):
    """Driver-identical canonicalization: sort columns by name, stringify
    every cell THROUGH ITS PANDAS DTYPE (so int64 75 -> '75' but float64
    75.0 -> '75.0' — the exact representation the driver hashes), sort
    rows. Catches dtype-promotion bugs (DuckDB HUGEINT -> float64) that a
    fetchall()-based compare is blind to (the round-2 red-gate root cause)."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    return rows


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, sf_dir, duck):
    # run and materialize inside a cache scope: every persist the query
    # registers is released here, none lands in the unscoped default
    n_unscoped = len(dedup._DEFAULT_SCOPE._entries)
    with dedup.pair_cache_scope():
        sdf = QUERIES[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spdf = sdf.toPandas() if name in ORACLE else None
    assert len(dedup._DEFAULT_SCOPE._entries) == n_unscoped, name

    if name not in ORACLE:
        # rows-only check (driver's weaker mode)
        assert len(srows) >= 0
        return

    res = duck.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    sc, sr = _norm_rows(scols, srows)
    dc, dr = _norm_rows(dcols, drows)
    mismatches = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={sr[mismatches[0]]} duck={dr[mismatches[0]]}"
    )

    # dtype-exactness gate: the driver compares pandas-materialized frames,
    # so representation differences (int64 75 vs float64 75.0) fail its hash
    # even when values are equal. Replicate that exactly.
    sp = _pandas_canon(spdf)
    dp = _pandas_canon(duck.execute(ORACLE[name]).df())
    diffs = [i for i, (a, b) in enumerate(zip(sp, dp)) if a != b]
    assert not diffs, (
        f"{name}: pandas-representation mismatch (dtype promotion?); first: "
        f"spark={sp[diffs[0]]} duck={dp[diffs[0]]}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "keep_rate" in df.columns
