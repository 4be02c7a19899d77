"""Uniqueness check on (repo, path, commit) — SURVEY.md §2.4 A5 / §2.3 J3.

Two-phase: (1) hash-agg ``groupBy(keys).count()`` (partial+final, map-side
combined — safe under key skew because each group's partial collapses to one
row per map task); (2) **left-semi join back** to materialize full violation
rows. The join's build side is only the duplicated keys and is broadcast
EXPLICITLY: AQE estimates the post-filter size from the pre-filter shuffle
stats (one row per key = the whole table), picks sort-merge, and the
resulting all-string SMJ sort of the fact table was measured (jstack,
10.6M-row run) to dominate the contract. Dup keys are violations — rare by
contract — so the broadcast is bounded by the violation budget, not the
table. (A dataset whose duplicate keys exceed driver memory has already
catastrophically failed the check; fail loud there.)

Exemplar determinism: within a duplicate group, rows are ranked by
``row_number`` ordered by content_sha (SURVEY.md §2.5 dedup_exemplar) so
golden violation sets are stable under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raqc_spark.checks.blocks import verdicts_from_partition_agg, violation_rows
from raqc_spark.contract import Check


def _keys(check: Check) -> list[str]:
    return list(check.p.get("keys", ("repo", "path", "commit")))


def dup_key_table(df: DataFrame, check: Check) -> DataFrame:
    """The uniqueness kind's one table: ``keys`` plus ``count`` for every
    key that more than one row of ``df`` holds, NULL keys exempt, guarded
    by ``max_dup_keys``. Tiny by contract: one row per duplicated key."""
    keys = _keys(check)
    max_dup_keys = int(check.p.get("max_dup_keys", 2_000_000))

    # NO coalesce(1) here, despite the tiny post-filter output: coalesce has
    # no stage boundary, so it would pull the FINAL aggregation of this
    # high-cardinality groupBy into a single task — partial aggs don't
    # collapse near-unique keys, and one task would merge the whole table
    # (measured: local[8] contract wall 54s -> 75s at 10.6M rows). The
    # guard window below pays one tiny exchange instead — only dup keys
    # move. (The drift/hist cubes DO coalesce(1) safely: their partial aggs
    # bound per-task output to the cell-cube size.)
    # "Certain key" semantics, as SQL UNIQUE: a row with a NULL in any key
    # column is exempt. groupBy lumps NULL keys into one group, but the
    # left-semi join back never matches them, so uniqueness_check's
    # partition-key verdict shortcut would count a group that has no sink
    # rows. Dropping such groups here derives the verdict and the sink from
    # one frame.
    is_dup = F.col("count") > 1
    for k in keys:
        is_dup &= F.col(k).isNotNull()
    dup_keys = df.groupBy(*keys).count().filter(is_dup)
    # Broadcast budget guard (ADVICE r2): a pathological keys config can make
    # a large share of the table "duplicates"; uniqueness_check's explicit
    # broadcast would then OOM the driver deep into the run. Enforce the
    # budget IN-PLAN (count window over the tiny dup-key table + assert_true
    # inside a filter, which Catalyst cannot prune) so the check fails loud
    # with a clear message instead. The single-partition window moves only the data
    # the broadcast was about to collect anyway.
    n_dup = F.count(F.lit(1)).over(Window.partitionBy(F.lit(1)))
    guard = F.assert_true(
        F.col("_n_dup_keys") <= F.lit(max_dup_keys),
        F.lit(
            f"uniqueness check {check.name!r}: duplicate-key count exceeds "
            f"max_dup_keys={max_dup_keys}; the keys config "
            f"{tuple(keys)!r} likely has too-low cardinality (raise "
            "max_dup_keys in check params if this volume is intended)"
        ),
    )
    return (
        dup_keys.withColumn("_n_dup_keys", n_dup)
        .filter(guard.isNull())
        .select(*keys, "count")
    )


def uniqueness_check(
    df: DataFrame,
    check: Check,
    pool: list | None = None,
    partition_spec=None,
) -> tuple[DataFrame, DataFrame]:
    """``pool``: optional persist pool (runner-owned). The dup-key table is
    tiny (bounded by violations) but expensive to derive (full-table
    groupBy); persisting it means the violations sink and the verdict
    aggregation — separate Spark actions in run-granularity mode — derive it
    once instead of twice.

    ``partition_spec``: when given AND the check keys include the partition
    key, per-partition violation counts derive straight from the persisted
    dup-key table (each dup group lives in exactly one partition, and its
    retained group ``count`` IS its violation-row count) — the verdict
    action re-reads a few cached kilobytes instead of re-running the
    broadcast semi-join over the full table (VERDICT r2 task 1)."""
    keys = _keys(check)
    dup_keys = dup_key_table(df, check)
    if pool is not None:
        dup_keys = dup_keys.persist()
        pool.append(dup_keys)

    dup_rows = df.join(F.broadcast(dup_keys.select(*keys)), keys, "left_semi")
    rank = (
        f"row_number() OVER (PARTITION BY {', '.join(keys)}"
        " ORDER BY content_sha, lang)"
    )
    violations = violation_rows(
        dup_rows,
        f"'{check.name}'",
        f"format_string('duplicate key rank=%d', {rank})",
    )

    # per-partition verdict: duplicate-row rate from two TINY per-partition
    # counts joined on partition_id — no join back onto the fact table (the
    # round-1 broadcast-join-then-count scanned all rows a second time)
    n_rows_pp = df.groupBy("partition_id").agg(F.expr("count(1) AS n_rows"))
    if partition_spec is not None and partition_spec.key in keys:
        # every dup group lives in one partition (keys ⊇ partition key), so
        # n_viol per partition = Σ group counts — derived from the tiny
        # (persisted) dup-key table, already single-partition after the
        # guard window: no exchange, no second pass over the fact table
        from raqc_spark.functions.hashing import partition_id_col

        n_viol_pp = dup_keys.groupBy(
            partition_id_col(partition_spec).alias("partition_id")
        ).agg(F.expr("sum(count) AS n_viol"))
    else:
        n_viol_pp = dup_rows.groupBy("partition_id").agg(
            F.expr("count(1) AS n_viol")
        )
    agg = n_rows_pp.join(n_viol_pp, "partition_id", "left").fillna(
        0, subset=["n_viol"]
    )
    verdicts = verdicts_from_partition_agg(
        agg, [(check, "n_viol / n_rows", "n_viol")]
    )
    return verdicts, violations
