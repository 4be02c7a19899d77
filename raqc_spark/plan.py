"""Contract -> lazy DataFrame DAGs (the engine's logical->physical bridge).

``compile_plan`` groups the contract's checks into *check families* that
share a scan/shuffle (SURVEY.md §4.3 "single shared scan for many checks"):

- ``stats``      — every stats-family check fused into ONE agg pass
- ``uniqueness`` — keyed duplicate detection (J3/A5)
- ``ref``        — broadcast anti-join vs the commits dim (J2)
- ``hist``       — 2D-histogram outlier flagging (A6/W2)
- ``drift``      — snapshot-pair PSI/KS (J4/W3), needs snapshot 1

Everything stays lazy; actions happen only in the runner's sinks.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raqc_spark.checks.blocks import verdicts_from_partition_agg
from raqc_spark.checks.drift import compile_drift_pass, hist2d_outlier_check
from raqc_spark.checks.integrity import ref_integrity_check
from raqc_spark.checks.stats import STATS_KINDS, compile_stats_pass
from raqc_spark.checks.uniqueness import uniqueness_check
from raqc_spark.contract import Check, Contract
from raqc_spark.functions import with_derived, with_partition_id


def prepare(df: DataFrame, contract: Contract) -> DataFrame:
    """Derived columns + explicit repo-hash partition id (one projection,
    fully codegen'd — no shuffle here; the partition id column aligns every
    later per-partition groupBy on the same key)."""
    return with_partition_id(with_derived(df), contract.partition_spec)


def schema_check(
    spark: SparkSession, schema, contract: Contract, check: Check
) -> DataFrame:
    """Check #0: declared source schema present with string types
    (SURVEY.md §1.2 'schema check is itself check #0'). Global verdict row
    (partition_id = -1) whose metric and violation count are the number of
    missing or non-string columns; runs on metadata only — no scan. Takes
    the RAW source schema (before prepare() drops the content column)."""
    actual = {f.name: f.dataType.simpleString() for f in schema.fields}
    missing = [c for c in contract.schema_columns if c not in actual]
    wrong = [
        c
        for c in contract.schema_columns
        if c in actual and actual[c] != "string"
    ]
    n_bad = len(missing) + len(wrong)
    row = spark.createDataFrame(
        [(-1, 0, n_bad)], "partition_id int, n_rows bigint, n_bad bigint"
    )
    return verdicts_from_partition_agg(row, [(check, "n_bad", "n_bad")])


def _pfilter(df: DataFrame | None, pids: frozenset[int] | None) -> DataFrame | None:
    """Restrict a prepared snapshot to a set of partition_ids (per-partition
    resume / batched checkpointing). On the parquet emulation this is a
    post-scan filter; on a production Iceberg table bucket-partitioned by the
    same repo-hash expression it prunes files before the scan."""
    if df is None or pids is None:
        return df
    return df.filter(F.col("partition_id").isin(sorted(int(p) for p in pids)))


@dataclass(frozen=True)
class CompiledFamily:
    """A lazily-compiled group of checks sharing one scan pattern.

    ``build(pids)`` compiles the family restricted to a partition_id subset
    (``None`` = all partitions). ``splittable`` marks families whose checks
    are per-partition independent, i.e. running them on a partition subset
    yields exactly the subset of the full run's verdicts/violations. The
    hist2d family is NOT splittable (its rare-cell threshold is a *global*
    histogram property), nor is the metadata-only schema check.
    """

    name: str
    checks: tuple[Check, ...]
    # (pids|None) -> (verdicts, violations|None)
    build: Callable[..., tuple[DataFrame, DataFrame | None]]
    splittable: bool = True


def compile_plan(
    spark: SparkSession,
    contract: Contract,
    s2: DataFrame,
    s1: DataFrame | None = None,
    commits_dim: DataFrame | None = None,
    raw_schema=None,
    pool: list | None = None,
) -> list[CompiledFamily]:
    """Compile the contract against prepared snapshot DataFrames.

    ``s2`` is the snapshot under validation; ``s1`` the previous snapshot
    (drift checks); ``commits_dim`` the referential dim. Pass DataFrames
    already run through ``prepare``; ``raw_schema`` is the pre-prepare
    source schema for the schema check (prepare drops ``content``).
    ``pool``: optional list collecting tiny persisted intermediates
    (dup keys, rare histogram cells) shared across the runner's actions;
    the caller owns unpersisting them.
    """
    contract.validate()
    by_kind: dict[str, list[Check]] = {}
    for c in contract.checks:
        by_kind.setdefault(c.kind, []).append(c)

    families: list[CompiledFamily] = []

    schema_checks = by_kind.pop("schema", [])
    if schema_checks:
        chk = schema_checks[0]
        schema = raw_schema if raw_schema is not None else s2.schema
        families.append(
            CompiledFamily(
                "schema",
                (chk,),
                lambda pids=None, chk=chk, schema=schema: (
                    schema_check(spark, schema, contract, chk),
                    None,
                ),
                splittable=False,
            )
        )

    stats = [c for k, cs in by_kind.items() if k in STATS_KINDS for c in cs]
    if stats:
        families.append(
            CompiledFamily(
                "stats",
                tuple(stats),
                lambda pids=None: compile_stats_pass(_pfilter(s2, pids), stats),
            )
        )

    for chk in by_kind.get("uniqueness", []):
        # Splittable ONLY when the check keys include the partitioning key:
        # then every row of a key group shares the partition key -> one
        # partition_id, and a partition-restricted run sees whole groups.
        # With user-configured keys that omit it (e.g. keys=("path",)),
        # duplicate groups can span partition_ids and a partial/batched run
        # would silently miss cross-subset duplicates (ADVICE r2) — such
        # checks always execute over all partitions in one piece.
        keys = tuple(chk.p.get("keys", ("repo", "path", "commit")))
        families.append(
            CompiledFamily(
                f"uniqueness:{chk.name}",
                (chk,),
                lambda pids=None, chk=chk: uniqueness_check(
                    _pfilter(s2, pids), chk, pool=pool,
                    partition_spec=contract.partition_spec,
                ),
                splittable=contract.partition_spec.key in keys,
            )
        )

    for chk in by_kind.get("ref_integrity", []):
        if commits_dim is None:
            raise ValueError(f"{chk.name} requires commits_dim")
        families.append(
            CompiledFamily(
                f"ref:{chk.name}",
                (chk,),
                lambda pids=None, chk=chk: ref_integrity_check(
                    _pfilter(s2, pids), commits_dim, chk
                ),
            )
        )

    for chk in by_kind.get("hist2d_outlier", []):
        # NOT splittable: the rare-cell cut depends on the global histogram
        families.append(
            CompiledFamily(
                f"hist:{chk.name}",
                (chk,),
                lambda pids=None, chk=chk: hist2d_outlier_check(
                    s2, chk, pool=pool
                ),
                splittable=False,
            )
        )

    drift_checks = by_kind.get("drift_psi", []) + by_kind.get("drift_ks", [])
    if drift_checks:
        if s1 is None:
            raise ValueError(
                f"{drift_checks[0].name} requires previous snapshot s1"
            )
        # ONE family for ALL drift checks: a single side-tagged union scan +
        # one cube groupBy feeds every PSI/KS marginal (VERDICT r2 task 1 —
        # per-check families each paid 2 groupBys + a full-outer join, the
        # largest slice of the per-run AQE job floor).
        # Splittable ONLY when every drift_ks has pinned (lo, hi): unpinned
        # edges are derived from the partition-FILTERED s1, so a batched run
        # would bin each batch differently and per-partition KS values would
        # not match the whole-run values (ADVICE r3). PSI and pinned-edge KS
        # are per-partition independent.
        ks_edges_pinned = all(
            c.kind != "drift_ks"
            or (c.p.get("lo") is not None and c.p.get("hi") is not None)
            for c in drift_checks
        )
        families.append(
            CompiledFamily(
                "drift",
                tuple(drift_checks),
                lambda pids=None: (
                    compile_drift_pass(
                        _pfilter(s1, pids), _pfilter(s2, pids), drift_checks
                    ),
                    None,
                ),
                splittable=ks_edges_pinned,
            )
        )

    return families
