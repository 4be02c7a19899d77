"""Result schemas: verdicts and violations (SURVEY.md §1.2).

RAQC's multi-band flags GeoTIFF + stats ``.txt`` recast as two DataFrames:

- **verdicts** — one row per (partition_id, check_name): the per-block
  flag aggregation analogue. A partition fails when its violation *rate*
  crosses the check threshold, never on a single row.
- **violations** — materialized violating rows, identified per-row by
  ``content_sha = sha2(content, 256)`` (BASELINE.json:15 row invariant).
"""

from __future__ import annotations

from pyspark.sql import types as T

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("check_name", T.StringType(), False),
        T.StructField("pass", T.BooleanType(), False),
        T.StructField("metric_value", T.DoubleType(), True),
        T.StructField("threshold", T.DoubleType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_violations", T.LongType(), False),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        # partition lineage: which repo-hash partition the violating row
        # belongs to (north_rule "per-partition lineage") — also the physical
        # partition column of the violation sinks, so checkpoint retries
        # overwrite exactly one partition directory.
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("check_name", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("violation_detail", T.StringType(), True),
        T.StructField("content_sha", T.StringType(), True),
    ]
)

VIOLATION_COLS = [f.name for f in VIOLATION_SCHEMA.fields]
VERDICT_COLS = [f.name for f in VERDICT_SCHEMA.fields]

# sha2('', 256) — the documented stand-in for NULL content (FIXTURES.md).
EMPTY_SHA256 = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"

