"""Referential-integrity check commit -> repo (SURVEY.md §2.3 J2).

A fact row violates when its (repo, commit) is absent from the commits dim.
The dim is tiny relative to the fact table (one row per commit vs one per
file), so it is **broadcast** — the fact side never shuffles. Violations are
the anti-join; the verdict aggregation rides the same broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raqc_spark.checks.blocks import verdicts_from_partition_agg, violation_rows
from raqc_spark.contract import Check


def _dim_keys(dim: DataFrame, keys: list[str]) -> DataFrame:
    return F.broadcast(dim.select(*keys).dropDuplicates(keys))


def ref_table(df: DataFrame, dim: DataFrame, check: Check) -> DataFrame:
    """The ref-integrity kind's one table: per ``partition_id`` of ``df``,
    ``n_rows`` and ``n_viol``, the rows whose keys ``dim`` lacks, from one
    left join onto the broadcast dim keys."""
    keys = list(check.p.get("keys", ("repo", "commit")))
    marked = _dim_keys(dim, keys).withColumn("_hit", F.lit(1))
    return (
        df.join(marked, keys, "left")
        .groupBy("partition_id")
        .agg(
            F.expr("count(1) AS n_rows"),
            F.expr("count_if(_hit IS NULL) AS n_viol"),
        )
    )


def ref_integrity_check(
    df: DataFrame, dim: DataFrame, check: Check
) -> tuple[DataFrame, DataFrame]:
    keys = list(check.p.get("keys", ("repo", "commit")))
    violations = violation_rows(
        df.join(_dim_keys(dim, keys), keys, "left_anti"),
        f"'{check.name}'",
        f"format_string('orphan %s not in dim', concat_ws(':',"
        f" {', '.join(keys)}))",
    )
    verdicts = verdicts_from_partition_agg(
        ref_table(df, dim, check), [(check, "n_viol / n_rows", "n_viol")]
    )
    return verdicts, violations
