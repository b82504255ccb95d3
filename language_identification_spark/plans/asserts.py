"""Physical-plan assertions — used by tests to pin the plans we designed,
not just the results (SURVEY.md §4.2): broadcast joins stay broadcast,
filters reach the parquet scan, the pipeline stays single-stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def assert_no_shuffle(df: DataFrame) -> None:
    """The serving pipeline must stay narrow — any Exchange at 100 TB is a
    design regression."""
    plan = explain_str(df)
    assert "Exchange" not in plan, plan


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = explain_str(df)
    assert "PushedFilters" in plan and fragment in plan, plan


def count_exchanges(df: DataFrame) -> int:
    # formatted explain lists each node twice (tree + detail section);
    # count only the numbered detail headers.
    import re

    return len(re.findall(r"^\(\d+\) Exchange", explain_str(df), re.MULTILINE))
