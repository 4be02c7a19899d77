"""Physical-plan inspection helpers (SURVEY.md §5.2.5 plan tests).

The engine never hand-schedules what Catalyst already does — instead it
ASSERTS the optimizer produced the plan we rely on at scale: filters pushed
into the parquet scan, dims broadcast, no row-at-a-time Python anywhere.
Used by tests and available for ad-hoc forensics.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    plan = explain_formatted(df)
    if not re.search(rf"PushedFilters:.*\({re.escape(column)}", plan):
        raise AssertionError(f"no pushed filter on {column!r}:\n{plan[:2000]}")


def assert_no_row_python(df: DataFrame) -> None:
    """Arrow-batched pandas stages (ArrowEvalPython / FlatMapGroupsInPandas /
    MapInPandas) are allowed; row-at-a-time BatchEvalPython is not
    (BASELINE.json:15)."""
    plan = explain_formatted(df)
    if "BatchEvalPython" in plan:
        raise AssertionError(f"row-at-a-time Python UDF in plan:\n{plan[:2000]}")
