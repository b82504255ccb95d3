"""The one gate runner and comparator: does a ``queries()`` result equal
its ``oracle_sql()`` twin? Used by ``tests/test_entry.py`` and
``scripts/check_gates.py`` so both run each side once and apply the
same, strict rule:

- the same column names (order-insensitive) and the same row count;
- the same values, row-order-insensitive, with floats compared by
  exact ``repr`` — the rounding discipline in the queries and their
  oracles must make floats bit-identical;
- the same pandas stringification, cell by cell, which is what the
  ``__spark_entry__`` contract's value hash reads: int64 ``75`` and
  float64 ``75.0`` differ there even though their values are equal.
"""

from __future__ import annotations

import math
import os

from ..operators.cache import pair_cache_scope

# the sf tables, registered in DuckDB as views named by file stem
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def _norm_rows(cols, rows) -> list[tuple[str, ...]]:
    """Rows as tuples of exact strings, columns in name order, rows
    sorted."""
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _pandas_canon(pdf) -> list[tuple[str, ...]]:
    """Contract-identical canonicalization: sort columns by name, stringify
    every cell THROUGH ITS PANDAS DTYPE (so int64 75 -> '75' but float64
    75.0 -> '75.0'), sort rows. Catches dtype-promotion bugs (DuckDB
    HUGEINT -> float64) that a value compare is blind to."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(str(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )


def _first_diff(kind: str, got: list, want: list) -> str | None:
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    if not bad:
        return None
    return (
        f"{len(bad)} {kind} mismatches; first: "
        f"spark={got[bad[0]]} oracle={want[bad[0]]}"
    )


def gate_mismatch(scols, srows, spdf, ocols, orows, opdf) -> str | None:
    """None when the Spark result (column names, collected rows, pandas
    frame) passes the gate against the oracle's; otherwise the first
    failing check, as one line."""
    if sorted(scols) != sorted(ocols):
        return f"schema: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rows: spark={len(srows)} oracle={len(orows)}"
    return _first_diff(
        "row", _norm_rows(scols, srows), _norm_rows(ocols, orows)
    ) or _first_diff(
        "pandas-representation (dtype promotion?)",
        _pandas_canon(spdf),
        _pandas_canon(opdf),
    )


def duck_views(sf_dir: str):
    """A DuckDB connection with a view over each sf table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_gate(spark, con, query, sf_dir: str, oracle: str | None):
    """Run one gate with each side executed once → (error or None, Spark
    row count, oracle row count or None when there is no oracle).

    The query is built and collected inside ``pair_cache_scope``; its
    pandas frame is the collected rows rebuilt under the query's schema,
    the frame ``toPandas()`` returns. The oracle's result is stored once
    in a temp table and read back as rows and as a frame."""
    with pair_cache_scope():
        sdf = query(spark, sf_dir)
        srows = sdf.collect()
    if oracle is None:
        return None, len(srows), None
    spdf = spark.createDataFrame(srows, sdf.schema).toPandas()
    con.execute(f"CREATE OR REPLACE TEMP TABLE gate_oracle AS {oracle}")
    res = con.table("gate_oracle")
    orows = res.fetchall()
    err = gate_mismatch(sdf.columns, srows, spdf, res.columns, orows, res.df())
    return err, len(srows), len(orows)
