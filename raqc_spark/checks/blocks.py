"""Per-partition verdict assembly — RAQC's block-flag aggregation analogue.

RAQC flags a basin/elevation "block" only when the *fraction* of flagged
pixels in a moving window crosses a threshold (``PatternFilters.mov_wind``,
SURVEY.md §2.5 W1). Here a table partition fails a check only when its
violation rate (or stat metric) crosses the contract threshold — never on a
single row. Verdict frames are tiny (num_partitions × num_checks rows), so
unions of per-check selections cost nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from raqc_spark.contract import Check


def verdicts_from_partition_agg(
    agg: DataFrame, check: Check, metric: str, n_violations: str = "0"
) -> DataFrame:
    """Project one check's verdict rows out of a shared per-partition agg.

    ``agg`` must carry ``partition_id`` and ``n_rows``; ``metric`` and
    ``n_violations`` are SQL expressions over its columns, built in a single
    ``selectExpr`` round-trip (py4j latency was measured to dominate the
    contract build — see checks/stats.py module docs). Metrics are rounded
    to 9 decimals so verdicts are bit-identical across parallelism levels
    (SURVEY.md §7.3.2 determinism under local[8] vs local[32]); a NULL
    metric fails.
    """
    m = f"round(CAST(({metric}) AS double), 9)"
    return agg.selectExpr(
        "CAST(partition_id AS int) AS partition_id",
        f"'{check.name}' AS check_name",
        f"coalesce({check.threshold.sql(m)}, false) AS pass",
        f"{m} AS metric_value",
        f"CAST({float(check.threshold.value)!r} AS double) AS threshold",
        "CAST(n_rows AS bigint) AS n_rows",
        f"CAST({n_violations} AS bigint) AS n_violations",
    )
