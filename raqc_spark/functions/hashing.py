"""Derived columns: row identity and partition assignment.

All pure Column expressions — JVM-side, whole-stage-codegen'd; nothing here
leaves the Tungsten pipeline. The RAQC analogues are the elementwise
``diff``/``diff_norm`` derivations (SURVEY.md §2.2 P1), recast as
``content_length`` / ``content_sha`` per BASELINE.json:15.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raqc_spark.contract import PartitionSpec
from raqc_spark.results import EMPTY_SHA256


def content_sha_col(col: str = "content") -> Column:
    """Row identity: sha2(content, 256); NULL content maps to sha2('')
    (documented constant, FIXTURES.md) so violation rows always carry an id.
    """
    return F.coalesce(F.sha2(F.col(col), 256), F.lit(EMPTY_SHA256))


def partition_id_col(spec: PartitionSpec) -> Column:
    """Explicit repo-hash partition id (BASELINE.json:6).

    The SAME expression drives ``repartition`` and verdict grouping, so the
    one shuffle it implies is shared by every per-partition check.
    """
    return F.pmod(F.xxhash64(F.col(spec.key)), F.lit(spec.num_partitions)).cast("int")


def with_derived(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Derive content_length + content_sha, then DROP the raw content column.

    Engine invariant: no check ever needs the raw bytes again — row identity
    is content_sha (BASELINE.json:15), nullness/emptiness are recoverable from
    content_length (NULL ↔ content NULL, 0 ↔ empty). Dropping the wide column
    before any shuffle/persist keeps per-row state at ~100 B instead of the
    raw file size — the difference between shuffling key metadata and
    shuffling the whole 100 TB corpus.
    """
    return (
        df.withColumn("content_length", F.length(F.col(content_col)))
        .withColumn("content_sha", content_sha_col(content_col))
        .drop(content_col)
    )


def with_partition_id(df: DataFrame, spec: PartitionSpec) -> DataFrame:
    return df.withColumn("partition_id", partition_id_col(spec))
