"""The one writer of result rows: verdicts, violations and their unions.

RAQC flags a basin/elevation "block" only when the *fraction* of flagged
pixels in a moving window crosses a threshold (``PatternFilters.mov_wind``,
SURVEY.md §2.5 W1). Here a table partition fails a check only when its
violation rate (or stat metric) crosses the contract threshold — never on a
single row. Every check family writes its verdict rows
(``verdicts_from_partition_agg``), violation rows (``violation_rows``) and
their unions (``union_all``) here, so the row format is written once.
Verdict frames are tiny (num_partitions × num_checks rows), so their unions
cost nothing.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from raqc_spark.contract import Check
from raqc_spark.results import VERDICT_COLS


def _verdict_struct_sql(check: Check, metric: str, n_violations: str) -> str:
    """One check's verdict slot: a ``named_struct`` of the verdict fields.

    The metric text appears twice (pass predicate + value); Catalyst
    subexpression elimination collapses the duplicates. Metrics are rounded
    to 9 decimals so verdicts are bit-identical across parallelism levels
    (SURVEY.md §7.3.2); a NULL metric fails, as Threshold does.
    """
    m = f"round(CAST(({metric}) AS double), 9)"
    return (
        "named_struct("
        f"'check_name', '{check.name}', "
        f"'pass', coalesce({check.threshold.sql(m)}, false), "
        f"'metric_value', {m}, "
        f"'threshold', CAST({float(check.threshold.value)!r} AS double), "
        f"'n_violations', CAST({n_violations} AS bigint))"
    )


def verdicts_from_partition_agg(
    agg: DataFrame, checks: list[tuple[Check, str, str]]
) -> DataFrame:
    """Verdict rows of ``checks`` out of a shared per-partition agg.

    ``agg`` carries ``partition_id`` and ``n_rows``; each
    ``(check, metric, n_violations)`` names SQL expressions over its
    columns. Every check's slot is unpivoted by ONE
    ``inline(array(named_struct…))`` projection, built as SQL text in a
    single ``selectExpr`` round-trip (py4j latency was measured to dominate
    the contract build — see checks/stats.py module docs).
    """
    slots = ", ".join(_verdict_struct_sql(*c) for c in checks)
    return agg.selectExpr(
        "CAST(partition_id AS int) AS partition_id",
        "CAST(n_rows AS bigint) AS n_rows",
        f"inline(array({slots}))",
    ).select(*VERDICT_COLS)


def violation_rows(df: DataFrame, check_name: str, detail: str) -> DataFrame:
    """The violation rows of ``df``'s rows: ``check_name`` and ``detail``
    are SQL expressions (a quoted literal, or a column of ``df``)."""
    return df.selectExpr(
        "CAST(partition_id AS int) AS partition_id",
        f"{check_name} AS check_name",
        "repo",
        "path",
        "commit",
        f"{detail} AS violation_detail",
        "content_sha",
    )


def union_all(parts: list[DataFrame]) -> DataFrame:
    """Union result frames by column name, left to right."""
    return reduce(DataFrame.unionByName, parts)
