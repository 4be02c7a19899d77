"""Mergeable sketches + salted two-phase aggregation for skewed keys.

The north rule demands explicit handling of skewed mega-repos
(BASELINE.json:6 "salted shuffles for skewed mega-repos"). Plain
``groupBy(repo).agg(...)`` is already safe for *algebraic* aggregates
(Spark's partial aggregation collapses each map task's output to one row
per key before the shuffle), but holistic-looking aggregates over a hot key
still concentrate their merge work on one reducer. The two-phase pattern
here spreads phase 1 over ``salt_buckets`` reducers and merges tiny partial
states in phase 2 — possible because every engine aggregate is chosen to be
MERGEABLE:

- counts / count_if            -> sum of partials
- HLL (hll_sketch_agg)         -> hll_union_agg of partial sketches
- histogram bin counts         -> sum per bin
- min/max                      -> min/max of partials

The same mergeability is what makes checkpoint resume sound: per-partition
metrics can be recombined without rescanning data (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_approx_distinct(
    df: DataFrame,
    key: str,
    col: str,
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Distinct-count per key via salted two-phase Datasketches HLL.

    Phase 1: groupBy(key, salt) -> partial HLL sketch (hot key spread over
    ``salt_buckets`` reducers). Phase 2: groupBy(key) -> hll_union_agg of
    the (tiny, fixed-size) sketches -> estimate. Output column:
    ``approx_distinct``.
    """
    salt_src = F.col(salt_on) if salt_on else F.col(col)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets)).cast("int")
    )
    phase1 = salted.groupBy(key, "_salt").agg(
        F.hll_sketch_agg(F.col(col).cast("string")).alias("hll")
    )
    return phase1.groupBy(key).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    )

