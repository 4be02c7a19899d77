"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` so Catalyst gets the parquet footer schema and
can push filters / prune columns straight into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def documents_as_code_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` mapped to the engine's input shape (BASELINE.json:15):
    (repo, path, commit, lang, content)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.substring(F.sha2(F.col("source"), 256), 1, 8).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
