"""Uniqueness + referential-integrity golden tests (SURVEY.md §5.2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raqc_spark.checks.integrity import ref_integrity_check
from raqc_spark.checks.uniqueness import uniqueness_check
from raqc_spark.contract import Check, Threshold, default_contract
from raqc_spark.plan import prepare

KEY_COLS = ["repo", "path", "commit", "content_sha"]


def test_uniqueness_golden(spark, snapshots, code_fixture):
    fx, _ = code_fixture
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check("uniqueness", "uniqueness", threshold=Threshold("le", 0.0),
                params=(("keys", ("repo", "path", "commit")),))
    verdicts, violations = uniqueness_check(df, chk)
    got = {tuple(r) for r in violations.select(*KEY_COLS).collect()}
    assert got == fx.golden["uniqueness"]
    # dup row count = violations rows (every row of a dup group is material)
    n_dup_rows = violations.count()
    assert verdicts.agg(F.sum("n_violations")).collect()[0][0] == n_dup_rows
    assert verdicts.filter("pass").count() < verdicts.count()  # some partition fails


def test_ref_integrity_golden(spark, snapshots, code_fixture):
    fx, _ = code_fixture
    _, s2, commits = snapshots
    df = prepare(s2, default_contract())
    chk = Check("ref_integrity", "ref_integrity", threshold=Threshold("le", 0.0),
                params=(("keys", ("repo", "commit")),))
    verdicts, violations = ref_integrity_check(df, commits, chk)
    got = {tuple(r) for r in violations.select(*KEY_COLS).collect()}
    assert got == fx.golden["ref_integrity"]


def test_ref_integrity_clean_dim_passes(spark, snapshots):
    """s1 has no injected orphans -> every partition passes."""
    s1, _, commits = snapshots
    df = prepare(s1, default_contract())
    chk = Check("ref_integrity", "ref_integrity", threshold=Threshold("le", 0.0))
    verdicts, violations = ref_integrity_check(df, commits, chk)
    assert violations.count() == 0
    assert verdicts.filter("NOT pass").count() == 0


def test_uniqueness_broadcast_budget_guard(spark, snapshots):
    """A pathological keys config (low-cardinality 'lang') makes huge swaths
    of the table duplicates; the in-plan budget guard must fail LOUD instead
    of broadcasting an unbounded dup-key table (ADVICE r2)."""
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check(
        "uniq_pathological", "uniqueness", threshold=Threshold("le", 0.0),
        params=(("keys", ("repo", "path")), ("max_dup_keys", 1)),
    )
    _, violations = uniqueness_check(df, chk)
    with pytest.raises(Exception, match="max_dup_keys"):
        violations.count()


def test_uniqueness_guard_passes_within_budget(spark, snapshots, code_fixture):
    """Default budget: the golden violation set is unchanged by the guard."""
    fx, _ = code_fixture
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check("uniqueness", "uniqueness", threshold=Threshold("le", 0.0),
                params=(("keys", ("repo", "path", "commit")),))
    _, violations = uniqueness_check(df, chk)
    got = {tuple(r) for r in violations.select(*KEY_COLS).collect()}
    assert got == fx.golden["uniqueness"]


@pytest.mark.parametrize("shortcut", [False, True], ids=["semi_join", "dup_keys"])
def test_uniqueness_null_keys_exempt(spark, shortcut):
    """Certain-key semantics: a row with a NULL key column is never a
    duplicate. Two (r1, NULL, c1) rows plus two (r1, p, c1) rows give two
    violations, and the verdict agrees with the sink on both verdict paths
    (semi-join counts, and the partition-key shortcut over dup keys)."""
    from raqc_spark.contract import PartitionSpec
    from raqc_spark.functions.hashing import partition_id_col

    spec = PartitionSpec(key="repo", num_partitions=8)
    rows = [("r1", None, "c1", f"s{i}", "python") for i in range(2)] + [
        ("r1", "p", "c1", f"t{i}", "python") for i in range(2)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, "
        "content_sha string, lang string",
    ).withColumn("partition_id", partition_id_col(spec))
    chk = Check("uniqueness", "uniqueness", threshold=Threshold("le", 0.0),
                params=(("keys", ("repo", "path", "commit")),))
    verdicts, violations = uniqueness_check(
        df, chk, partition_spec=spec if shortcut else None
    )
    sink = violations.collect()
    assert {r["path"] for r in sink} == {"p"}
    assert verdicts.agg(F.sum("n_violations")).collect()[0][0] == 2 == len(sink)


def test_uniqueness_splittable_requires_partition_key(spark, snapshots):
    """Uniqueness families whose keys omit the partitioning key must not be
    partition-splittable: duplicate groups can span partition_ids, and a
    partition-restricted run would silently miss cross-subset duplicates
    (ADVICE r2 medium)."""
    from raqc_spark.contract import Contract, PartitionSpec
    from raqc_spark.plan import compile_plan

    _, s2, _ = snapshots
    contract = Contract(
        checks=(
            Check("uniq_with_repo", "uniqueness",
                  params=(("keys", ("repo", "path", "commit")),)),
            Check("uniq_no_repo", "uniqueness",
                  params=(("keys", ("path", "commit")),)),
        ),
        partition_spec=PartitionSpec(key="repo", num_partitions=8),
    )
    fams = {
        f.name: f for f in compile_plan(spark, contract, prepare(s2, contract))
    }
    assert fams["uniqueness:uniq_with_repo"].splittable is True
    assert fams["uniqueness:uniq_no_repo"].splittable is False
