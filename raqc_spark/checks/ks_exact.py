"""Exact per-partition KS via grouped-map applyInPandas — the sanctioned
vectorized-UDF cross-check of the binned-ECDF KS (SURVEY.md §2.10: grouped
map is the one place Arrow-batched pandas is allowed; never row-at-a-time).

The binned KS (checks.drift.drift_check) is the contractual, scale-safe
definition; this exact version exists to bound the binning error in tests
and for small-partition forensics. Each partition's values must fit one
executor's memory — fine for verdict-sized groups, NOT the 100 TB path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ks_exact_by_partition(
    s1: DataFrame, s2: DataFrame, column: str
) -> DataFrame:
    """Exact two-sample KS statistic per partition_id (numpy, Arrow batches)."""
    df1 = s1.select("partition_id", s1[column].alias("val")).withColumn(
        "side", F.lit(1)
    )
    df2 = s2.select("partition_id", s2[column].alias("val")).withColumn(
        "side", F.lit(2)
    )
    both = df1.unionByName(df2)

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = pdf["partition_id"].iloc[0]
        x = np.sort(pdf.loc[pdf["side"] == 1, "val"].dropna().to_numpy())
        y = np.sort(pdf.loc[pdf["side"] == 2, "val"].dropna().to_numpy())
        if len(x) == 0 or len(y) == 0:
            return pd.DataFrame({"partition_id": [pid], "ks": [float("nan")]})
        # classic two-sample KS: max |F1 - F2| over the pooled support
        pooled = np.concatenate([x, y])
        f1 = np.searchsorted(x, pooled, side="right") / len(x)
        f2 = np.searchsorted(y, pooled, side="right") / len(y)
        return pd.DataFrame(
            {"partition_id": [pid], "ks": [float(np.max(np.abs(f1 - f2)))]}
        )

    return both.groupBy("partition_id").applyInPandas(
        ks, schema="partition_id int, ks double"
    )
