"""Unit + golden tests for the fused stats pass (SURVEY.md §5.2.1/5.2.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from raqc_spark.contract import Check, Threshold, default_contract
from raqc_spark.plan import prepare
from raqc_spark.checks.stats import compile_stats_pass

KEY_COLS = ["repo", "path", "commit", "content_sha"]


def _checks():
    return [
        Check("null_rate_content", "null_rate", column="content",
              threshold=Threshold("le", 0.02)),
        Check("empty_content", "empty_content", column="content",
              threshold=Threshold("le", 0.01)),
        Check("bounds_content_length", "bounds", column="content_length",
              threshold=Threshold("le", 0.0), params=(("lo", 1), ("hi", 1_000_000))),
        Check("length_quantiles", "length_quantiles", column="content_length",
              threshold=Threshold("le", 1e9)),
        Check("approx_distinct_path", "approx_distinct", column="path",
              threshold=Threshold("ge", 0.0)),
    ]


def test_stats_golden_violations(spark, snapshots, code_fixture):
    fx, _ = code_fixture
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    verdicts, violations = compile_stats_pass(df, _checks())

    got = {
        name: {
            tuple(r)
            for r in violations.filter(F.col("check_name") == name)
            .select(*KEY_COLS)
            .collect()
        }
        for name in ("null_rate_content", "empty_content", "bounds_content_length")
    }
    assert got["null_rate_content"] == fx.golden["null_content"]
    assert got["empty_content"] == fx.golden["empty_content"]
    assert got["bounds_content_length"] == fx.golden["length_outlier"]


def test_stats_verdict_counts_match_golden(spark, snapshots, code_fixture):
    fx, _ = code_fixture
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    verdicts, _ = compile_stats_pass(df, _checks())
    v = verdicts.groupBy("check_name").agg(
        F.sum("n_violations").alias("nv"), F.sum("n_rows").alias("nr")
    )
    by_check = {r["check_name"]: r for r in v.collect()}
    n2 = len(fx.s2)
    assert by_check["null_rate_content"]["nv"] == len(fx.golden["null_content"])
    assert by_check["empty_content"]["nv"] == len(fx.golden["empty_content"])
    for r in by_check.values():
        assert r["nr"] == n2


def test_verdicts_invariant_under_repartitioning(spark, snapshots):
    """SURVEY.md §5.2.4: verdict rows identical at 2 vs 16 input partitions."""
    _, s2, _ = snapshots
    contract = default_contract()
    out = []
    for n in (2, 16):
        df = prepare(s2.repartition(n), contract)
        verdicts, _ = compile_stats_pass(df, _checks())
        out.append({tuple(r) for r in verdicts.collect()})
    assert out[0] == out[1]


def test_bin_quantile_within_one_bin_of_exact(spark, snapshots):
    """Binned quantiles (the scale path that replaced percentile_approx in
    the fused pass — VERDICT r2 jstack finding) land within one log-bin
    width of the exact percentile."""
    import math

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check("length_quantiles", "length_quantiles",
                column="content_length", threshold=Threshold("le", 1e9))
    verdicts, _ = compile_stats_pass(df, [chk])
    got = {r["partition_id"]: r["metric_value"] for r in verdicts.collect()}

    lens = (
        df.select("partition_id", "content_length")
        .filter(F.col("content_length").isNotNull())
        .toPandas()
    )
    width = 14.0 / 128
    for pid, edge_v in got.items():
        vals = lens[lens.partition_id == pid]["content_length"]
        n = len(vals)
        edge_log = math.log1p(edge_v)
        # definitional property: cum count reaches 0.99·n AT this edge ...
        assert (vals.map(math.log1p) <= edge_log + 1e-9).sum() >= 0.99 * n
        # ... and had NOT reached it one bin earlier (unless first bin)
        if edge_log > width + 1e-9:
            below = (vals.map(math.log1p) <= edge_log - width + 1e-9).sum()
            assert below < 0.99 * n, (pid, edge_v, below, n)


def test_quantile_approx_method_rejected():
    """length_quantiles runs binned counts only; a contract asking for
    method="approx" must fail validation, not silently run bins."""
    import pytest

    from raqc_spark.contract import Contract

    chk = Check("length_quantiles", "length_quantiles",
                column="content_length", threshold=Threshold("le", 1e9),
                params=(("method", "approx"),))
    with pytest.raises(ValueError, match="method='approx'"):
        Contract(checks=(chk,)).validate()
    text = Contract(checks=(chk,)).to_yaml()
    with pytest.raises(ValueError, match="only 'bins' is supported"):
        Contract.from_yaml(text)
    Contract(checks=(Check("lq", "length_quantiles", column="content_length",
                           params=(("method", "bins"),)),)).validate()


def test_bin_quantile_all_null_column_yields_null_metric(spark):
    """Zero non-null values: the binned quantile must resolve to NULL (like
    percentile_approx), not fabricate the first bin edge (ADVICE r2); the
    verdict then fails via the NULL->false coalesce, never passes on a
    phantom metric."""
    from raqc_spark.checks.stats import compile_stats_pass
    from raqc_spark.contract import Check, Threshold

    df = spark.createDataFrame(
        [(0, None)] * 10, "partition_id int, content_length int"
    )
    chk = Check("lq_null", "length_quantiles", column="content_length",
                threshold=Threshold("le", 10.0))
    verdicts, _ = compile_stats_pass(df, [chk])
    row = verdicts.collect()[0]
    assert row["metric_value"] is None
    assert row["pass"] is False
