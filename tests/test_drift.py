"""Snapshot-pair tests: alignment, PSI, binned-ECDF KS (SURVEY.md §5.2.4)."""

from __future__ import annotations

import dataclasses

import numpy as np
from pyspark.sql import functions as F

from raqc_spark.checks.drift import align_snapshots, drift_check
from raqc_spark.contract import Check, PartitionSpec, Threshold, default_contract
from raqc_spark.functions import partition_id_col
from raqc_spark.plan import prepare


def test_align_snapshots_statuses(spark, snapshots, code_fixture):
    fx, _ = code_fixture
    s1, s2, _ = snapshots
    c = default_contract()
    aligned = align_snapshots(prepare(s1, c), prepare(s2, c))
    counts = {r["status"]: r["cnt"] for r in
              aligned.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"added", "removed", "modified", "unchanged"}
    # ~5% of s1 deleted, +15% new (plus injected dup/new rows)
    assert counts["removed"] > 0 and counts["added"] > 0
    assert counts["unchanged"] > counts["modified"]


def test_psi_self_is_zero(spark, snapshots):
    """Property: PSI(A, A) == 0 (SURVEY.md §5.2.4)."""
    s1, _, _ = snapshots
    df = prepare(s1, default_contract())
    chk = Check("psi_lang", "drift_psi", column="lang", threshold=Threshold("le", 0.2))
    verdicts, _ = drift_check(df, df, chk)
    assert verdicts.filter(F.abs("metric_value") > 1e-9).count() == 0
    assert verdicts.filter("NOT pass").count() == 0


def test_ks_self_is_zero(spark, snapshots):
    s1, _, _ = snapshots
    df = prepare(s1, default_contract())
    chk = Check("ks_len", "drift_ks", column="content_length",
                threshold=Threshold("le", 0.15), params=(("num_bins", 64),))
    verdicts, _ = drift_check(df, df, chk)
    assert verdicts.filter(F.abs("metric_value") > 1e-9).count() == 0


def test_drift_fails_only_injected_partitions(spark, snapshots):
    """V8 flips lang in repo_0007..0009; V9 shifts lengths in repo_0003 —
    drift must fail for (at least) those partitions and pass elsewhere."""
    s1, s2, _ = snapshots
    c = default_contract()
    d1, d2 = prepare(s1, c), prepare(s2, c)
    spec = c.partition_spec

    pids = {
        r["repo"]: r["pid"]
        for r in spark.createDataFrame(
            [(f"repo_{i:04d}",) for i in range(16)], ["repo"]
        ).select("repo", partition_id_col(spec).alias("pid")).collect()
    }

    chk = Check("psi_lang", "drift_psi", column="lang", threshold=Threshold("le", 0.1))
    verdicts, _ = drift_check(d1, d2, chk)
    failed = {r["partition_id"] for r in verdicts.filter("NOT pass").collect()}
    drifted = {pids[f"repo_{i:04d}"] for i in (7, 8, 9)}
    assert drifted & failed, f"expected drifted partitions {drifted} to fail, got {failed}"

    chk2 = Check("ks_len", "drift_ks", column="content_length",
                 threshold=Threshold("le", 0.2), params=(("num_bins", 64),))
    v2, _ = drift_check(d1, d2, chk2)
    failed_ks = {r["partition_id"] for r in v2.filter("NOT pass").collect()}
    assert pids["repo_0003"] in failed_ks


def _hist_check():
    return next(
        c for c in default_contract().checks if c.kind == "hist2d_outlier"
    )


def test_hist2d_outlier_golden(spark, snapshots, code_fixture):
    """north_star signature op: every injected length outlier (V7 huge rows,
    V4 empty strings — the fixture's 'length_outlier' golden keys) must land
    in a rare histogram cell; total flagging stays below the 5% threshold."""
    from raqc_spark.checks.drift import hist2d_outlier_check

    fx, _ = code_fixture
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    verdicts, violations = hist2d_outlier_check(df, _hist_check())
    flagged = {
        (r["repo"], r["path"], r["commit"], r["content_sha"])
        for r in violations.collect()
    }
    missing = fx.golden["length_outlier"] - flagged
    assert not missing, f"{len(missing)} injected outliers not flagged"
    n_rows = df.count()
    assert len(flagged) / n_rows < 0.05
    # verdict bookkeeping: per-partition n_violations sums to flagged rows
    total_viol = verdicts.agg(F.sum("n_violations")).collect()[0][0]
    assert total_viol == violations.count()


def test_hist2d_outlier_in_default_contract():
    """Regression (VERDICT r1): the flagship contract must carry RAQC's
    signature 2D-histogram outlier check."""
    kinds = {c.kind for c in default_contract().checks}
    assert "hist2d_outlier" in kinds


def test_hist2d_outlier_compiles_lazily(spark, snapshots):
    """Regression (VERDICT r1): compiling the hist check must trigger NO
    Spark job (the round-1 version ran df.count() eagerly)."""
    from raqc_spark.checks.drift import hist2d_outlier_check

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    sc = spark.sparkContext
    group = "hist-lazy-probe"
    sc.setJobGroup(group, "laziness probe")
    try:
        hist2d_outlier_check(df, _hist_check())
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []


def test_drift_ks_inplan_edges_match_pinned(spark, snapshots, contract_df=None):
    """Un-pinned drift_ks derives (lo, hi) in-plan (broadcast 1-row min/max
    cross-join, no driver collect) and must equal the same check with those
    edges pinned as floats."""
    s1, s2, _ = snapshots
    d1 = prepare(s1, default_contract())
    d2 = prepare(s2, default_contract())
    chk_dyn = Check("ks_len", "drift_ks", column="content_length",
                    threshold=Threshold("le", 0.15),
                    params=(("num_bins", 32), ("log_scale", True)))
    v_dyn = drift_check(d1, d2, chk_dyn)[0].collect()
    row = d1.agg(
        F.min(F.log1p(F.col("content_length").cast("double"))).alias("lo"),
        F.max(F.log1p(F.col("content_length").cast("double"))).alias("hi"),
    ).collect()[0]
    chk_pin = dataclasses.replace(
        chk_dyn,
        params=chk_dyn.params + (("lo", float(row["lo"])), ("hi", float(row["hi"]))),
    )
    v_pin = drift_check(d1, d2, chk_pin)[0].collect()
    assert sorted(map(tuple, v_dyn)) == sorted(map(tuple, v_pin))


def test_no_driver_collect_in_checks_package():
    """VERDICT r2 task 6 'Done' criterion: no .collect() anywhere under
    raqc_spark/checks/ — every check compiles to one lazy DAG."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "raqc_spark" / "checks"
    for f in pkg.glob("*.py"):
        assert ".collect(" not in f.read_text(), f"driver collect in {f}"


def _psi_reference(p1, p2, column):
    """pid -> (PSI, n_rows) from the contract definition: categories are
    the column's values (NULL is its own category), proportions within the
    partition plus eps = 1e-6, and a side with no rows has proportions 0."""
    out = {}
    for pid in set(p1.partition_id) | set(p2.partition_id):
        a, b = (
            p.loc[p.partition_id == pid, column].fillna("<null>").value_counts()
            for p in (p1, p2)
        )
        cats = a.index.union(b.index)
        c1, c2 = (x.reindex(cats, fill_value=0).to_numpy(float) for x in (a, b))
        p, q = (
            (c / c.sum() if c.sum() else np.zeros_like(c)) + 1e-6
            for c in (c1, c2)
        )
        out[pid] = (float(np.sum((p - q) * np.log(p / q))), int(c2.sum()))
    return out


def _ks_reference(p1, p2, column, lo, hi, num_bins):
    """pid -> (binned-ECDF KS, n_rows): non-null values in fixed-width bins
    floor((v - lo) / ((hi - lo) / num_bins)) clamped to [0, num_bins - 1],
    D = max over bins of |F1 - F2|, an empty side's ECDF being 0."""
    width = (hi - lo) / num_bins
    p1, p2 = (p[p[column].notna()] for p in (p1, p2))
    out = {}
    for pid in set(p1.partition_id) | set(p2.partition_id):
        n1, n2 = (
            np.bincount(
                np.clip(
                    np.floor((p.loc[p.partition_id == pid, column] - lo) / width),
                    0, num_bins - 1,
                ).astype(int),
                minlength=num_bins,
            )
            for p in (p1, p2)
        )
        f1, f2 = (
            np.cumsum(n) / n.sum() if n.sum() else np.zeros(num_bins)
            for n in (n1, n2)
        )
        out[pid] = (float(np.max(np.abs(f1 - f2))), int(n2.sum()))
    return out


def test_drift_pass_matches_pandas_reference(spark, snapshots):
    """The one-cube drift pass the contract runs agrees with a pandas
    per-partition PSI and binned-ECDF KS, for pinned and in-plan KS edges:
    same partitions, metric within 2e-9, exact n_rows, pass == threshold."""
    from raqc_spark.checks.drift import compile_drift_pass

    s1, s2, _ = snapshots
    d1 = prepare(s1, default_contract())
    d2 = prepare(s2, default_contract())
    le = Threshold("le", 0.15)
    checks = [
        Check("psi_lang", "drift_psi", column="lang",
              threshold=Threshold("le", 0.2)),
        Check("ks_log_pinned", "drift_ks", column="content_length",
              threshold=le, params=(("num_bins", 64), ("lo", 0.0),
                                    ("hi", 14.0), ("log_scale", True))),
        Check("ks_log_inplan", "drift_ks", column="content_length",
              threshold=le, params=(("num_bins", 32), ("log_scale", True))),
        Check("ks_raw_pinned", "drift_ks", column="content_length",
              threshold=le, params=(("num_bins", 16), ("lo", 0.0),
                                    ("hi", 20_000.0))),
        Check("ks_raw_inplan", "drift_ks", column="content_length",
              threshold=le, params=(("num_bins", 16),)),
    ]
    # log1p comes from Spark so both sides bin the same doubles
    p1, p2 = (
        d.selectExpr(
            "partition_id", "lang", "CAST(content_length AS double) AS raw",
            "log1p(CAST(content_length AS double)) AS log",
        ).toPandas()
        for d in (d1, d2)
    )
    rows = compile_drift_pass(d1, d2, checks).collect()
    for chk in checks:
        if chk.kind == "drift_psi":
            ref = _psi_reference(p1, p2, chk.column)
        else:
            col = "log" if chk.p.get("log_scale") else "raw"
            lo, hi = chk.p.get("lo"), chk.p.get("hi")
            if lo is None:
                lo, hi = p1[col].min(), p1[col].max()
            ref = _ks_reference(p1, p2, col, lo, hi, chk.p["num_bins"])
        got = {r.partition_id: r for r in rows if r.check_name == chk.name}
        assert set(got) == set(ref), chk.name
        for pid, (metric, n_rows) in ref.items():
            r = got[pid]
            assert abs(r.metric_value - metric) < 2e-9, (chk.name, pid, r, metric)
            assert r.n_rows == n_rows, (chk.name, pid, r, n_rows)
            assert r["pass"] == chk.threshold.passes(r.metric_value)
