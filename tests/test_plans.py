"""Plan tests (SURVEY.md §5.2.5): pushdown, broadcast, no row-UDF nodes,
plus the CI grep forbidding per-row Python UDFs in engine code
(BASELINE.json:15)."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from raqc_spark.checks.integrity import ref_integrity_check
from raqc_spark.contract import Check, default_contract
from raqc_spark.plan import prepare
from raqc_spark.queries_core import q_scan_snapshot

ENGINE_DIR = pathlib.Path(__file__).resolve().parents[1] / "raqc_spark"


def _plan(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(q_scan_snapshot(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_quantity", plan)
    # column pruning: scan schema is exactly the 3 projected columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_linenumber", "l_quantity",
    }


def test_ref_integrity_uses_broadcast_join(spark, snapshots):
    _, s2, commits = snapshots
    df = prepare(s2, default_contract())
    chk = Check("ri", "ref_integrity")
    _, violations = ref_integrity_check(df, commits, chk)
    plan = _plan(violations)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_no_python_row_udf_nodes_in_contract_plans(spark, snapshots):
    """No BatchEvalPython (row-at-a-time Python) anywhere in check plans."""
    from raqc_spark.checks.stats import compile_stats_pass
    from raqc_spark.contract import default_contract

    _, s2, _ = snapshots
    c = default_contract()
    df = prepare(s2, c)
    stats = [x for x in c.checks if x.kind in
             {"null_rate", "empty_content", "bounds", "length_quantiles",
              "approx_distinct"}]
    verdicts, violations = compile_stats_pass(df, stats)
    for d in (verdicts, violations):
        assert "BatchEvalPython" not in _plan(d)


def test_ci_grep_no_row_udfs_in_engine_source():
    """BASELINE.json:15 policy: engine code never uses F.udf/@udf."""
    bad = []
    for p in ENGINE_DIR.rglob("*.py"):
        src = p.read_text()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("@F.udf", "udf(")):
            # allow pandas_udf / applyInPandas / mapInPandas only
            for line in src.splitlines():
                if re.search(r"\bF\.udf\s*\(|@udf\b|functions\.udf\s*\(", line):
                    bad.append((p.name, line.strip()))
    assert not bad, f"row-at-a-time Python UDFs found: {bad}"


def test_ci_grep_no_env_switches_in_engine_source():
    """Engine behaviour is set by arguments and Spark conf, not env vars:
    the only environment read under raqc_spark/ is the host's core count
    for the local master (SPARK_GRAFT_CPUS in session.py)."""
    uses = re.compile(r"\benviron\b|\bgetenv\b")
    keyed = re.compile(
        r"(?:environ(?:\.get)?\s*[(\[]|getenv\s*\()\s*[\"']([^\"']+)[\"']"
    )
    found = set()
    for p in ENGINE_DIR.rglob("*.py"):
        for line in p.read_text().splitlines():
            if uses.search(line):
                keys = keyed.findall(line) or ["<no literal key>"]
                found |= {(p.name, k) for k in keys}
    assert found == {("session.py", "SPARK_GRAFT_CPUS")}, found


def test_ci_grep_result_row_format_only_in_blocks():
    """Verdict and violation rows are written by checks/blocks.py alone: no
    other check compiler, nor the plan or the runner, spells out the row
    format. (contract.py is left out: its comment quotes the format; the
    queries_*.py registry builds its own outputs.)"""
    literals = ("AS check_name", "AS violation_detail", "'threshold'",
                "round(CAST(")
    sources = [*(ENGINE_DIR / "checks").glob("*.py"),
               ENGINE_DIR / "plan.py", ENGINE_DIR / "runner.py"]
    found = {
        (p.name, lit)
        for p in sources if p.name != "blocks.py"
        for lit in literals if lit in p.read_text()
    }
    assert not found, found
    blocks = (ENGINE_DIR / "checks" / "blocks.py").read_text()
    assert all(lit in blocks for lit in literals)


def test_ci_grep_engine_never_imports_driver_entry():
    """The driver entry point imports the engine, never the other way
    round: the code-table mapping and the fresh-run helper it shares with
    the registry live in raqc_spark."""
    found = [
        p.name for p in ENGINE_DIR.rglob("*.py")
        if "__spark_entry__" in p.read_text()
    ]
    assert not found, found


def test_stats_pass_is_single_shared_aggregation(spark, snapshots):
    """The fused stats pass produces ONE Exchange over partition_id for the
    shared agg (not one scan per check)."""
    from raqc_spark.checks.stats import compile_stats_pass
    from raqc_spark.contract import default_contract

    _, s2, _ = snapshots
    c = default_contract()
    df = prepare(s2, c)
    stats = [x for x in c.checks if x.kind in
             {"null_rate", "empty_content", "bounds", "length_quantiles",
              "approx_distinct"}]
    verdicts, _ = compile_stats_pass(df, stats)
    plan = _plan(verdicts)
    # ONE scan + one (partial+final) agg feeding an inline unpivot — the
    # check count must not multiply the scan count. (Each physical scan node
    # prints twice in formatted mode: tree summary + node detail.)
    assert plan.count("Scan parquet") == 2
    assert "HashAggregate" in plan


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """P4 prune_partitions: a filter on the partition column must become a
    PartitionFilter (Catalyst prunes directories, no data read from others)."""
    from raqc_spark.plans import explain_formatted

    root = str(tmp_path / "ptab")
    df = spark.range(100).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS snap"
    )
    df.write.partitionBy("snap").mode("overwrite").parquet(root)
    got = spark.read.parquet(root).filter("snap = '1'")
    plan = explain_formatted(got)
    assert re.search(r"PartitionFilters:.*snap", plan)
    assert got.count() == 25


def test_inspect_helpers_roundtrip(spark):
    from raqc_spark.plans import (
        assert_no_row_python,
        assert_pushed_filter,
        explain_formatted,
    )
    from raqc_spark.queries_core import q_scan_snapshot

    df = q_scan_snapshot(spark, "/root/testdata/sf0.001")
    assert "Scan parquet" in explain_formatted(df)
    assert_pushed_filter(df, "l_quantity")
    assert_no_row_python(df)


def test_set_ops_compiles_lazily(spark):
    """Regression (VERDICT r1): q_set_ops ran three eager .count() actions
    during query construction. Building the query must trigger NO job."""
    from raqc_spark.queries_extra import q_set_ops

    df = q_set_ops(spark, "/root/testdata/sf0.001")
    files = df.inputFiles()
    # the round-1 version returned driver-side literals selected off a
    # region.limit(1) stub; the lazy version aggregates the events scan
    assert any("events" in f for f in files)
    assert not any("region" in f for f in files)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "count(" in plan.lower()  # counts computed IN the plan
    assert "events" in plan or "parquet" in plan.lower()


def test_stats_pass_has_no_object_aggregate(spark, snapshots):
    """Regression (round-2 jstack finding): the fused stats pass must stay in
    whole-stage codegen — percentile_approx's ObjectHashAggregate dominated
    the contract at 10M rows before the binned-quantile rework."""
    from raqc_spark.checks.stats import compile_stats_pass
    from raqc_spark.contract import default_contract
    from raqc_spark.plan import prepare

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    stats = [c for c in default_contract().checks
             if c.kind in {"null_rate", "empty_content", "bounds",
                           "length_quantiles", "approx_distinct", "col_stats"}]
    verdicts, _ = compile_stats_pass(df, stats)
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan, plan[:2000]


def test_uniqueness_joins_are_broadcast(spark, snapshots):
    """Regression (round-2 jstack finding): the dup-key join back must be a
    broadcast, never a sort-merge join over the fact table (AQE sizes the
    post-filter side from pre-filter stats and picks SMJ otherwise)."""
    from raqc_spark.checks.uniqueness import uniqueness_check
    from raqc_spark.contract import Check, Threshold, default_contract
    from raqc_spark.plan import prepare

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check("uniq", "uniqueness", threshold=Threshold("le", 0.05),
                params=(("keys", ("repo", "path", "commit")),))
    verdicts, violations = uniqueness_check(df, chk)
    for d in (verdicts, violations):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan[:2000]
