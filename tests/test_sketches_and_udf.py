"""Salted two-phase sketches, approx-agg error bounds, exact-KS cross-check,
histogram smoothing (SURVEY.md §2.4 A4, §2.5 W2, §2.10, §4.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from raqc_spark.checks.drift import drift_check, hist2d, hist2d_outlier_check
from raqc_spark.checks.ks_exact import ks_exact_by_partition
from raqc_spark.checks.sketches import salted_approx_distinct
from raqc_spark.contract import Check, Threshold, default_contract
from raqc_spark.plan import prepare


def test_salted_hll_matches_exact_within_5pct(spark, snapshots):
    """BASELINE.json:6 HLL approx-distinct; SURVEY.md §5.2.2 rel-err bound.
    The mega-repo (repo_0000, 50% of rows) exercises the salted path."""
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    approx = salted_approx_distinct(df, "repo", "path", salt_buckets=16)
    exact = df.groupBy("repo").agg(F.countDistinct("path").alias("exact"))
    joined = approx.join(exact, "repo").collect()
    assert len(joined) >= 8
    for r in joined:
        rel = abs(r["approx_distinct"] - r["exact"]) / max(r["exact"], 1)
        assert rel <= 0.05, f"{r['repo']}: {r['approx_distinct']} vs {r['exact']}"


def test_approx_percentile_close_to_exact(spark, snapshots):
    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    row = df.agg(
        F.percentile_approx("content_length", 0.95, 10_000).alias("approx"),
        F.percentile("content_length", F.lit(0.95)).alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / max(row["exact"], 1) < 0.02


def test_binned_ks_tracks_exact_ks(spark, snapshots):
    """The binned ECDF KS (contractual, scale-safe) must agree with the
    exact grouped-map KS within one bin's worth of mass."""
    s1, s2, _ = snapshots
    c = default_contract()
    d1, d2 = prepare(s1, c), prepare(s2, c)
    chk = Check("ks", "drift_ks", column="content_length",
                threshold=Threshold("le", 0.2),
                params=(("num_bins", 128), ("lo", 0.0), ("hi", 14.0),
                        ("log_scale", True)))
    _, binned = drift_check(d1, d2, chk)
    exact = ks_exact_by_partition(d1, d2, "content_length")
    j = {r["partition_id"]: (r["ks"], None) for r in binned.collect()}
    for r in exact.collect():
        b = j[r["partition_id"]][0]
        assert abs(b - r["ks"]) < 0.08, (r["partition_id"], b, r["ks"])


def test_exact_ks_plan_uses_arrow_not_row_python(spark, snapshots):
    s1, s2, _ = snapshots
    c = default_contract()
    exact = ks_exact_by_partition(prepare(s1, c), prepare(s2, c), "content_length")
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(exact._jdf.queryExecution(), "formatted")
    assert "FlatMapGroupsInPandas" in plan  # Arrow grouped-map
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_hist2d_smoothing_window_stays_in_lang(spark):
    """The contract's smoothing: a cell's score sums its own lang's cells
    within ±1 length bucket (width 10 here). Lang a's one row in bucket 5
    sits between 20-row cells in buckets 4 and 6, so it is not rare; lang
    b's one row in bucket 5 has its 20-row cells two buckets away, so it is.
    A window across langs (a's cells), over ±2 buckets or ±1 cell instead of
    ±1 bucket (b's cells) would spare b's row; a window of the cell alone
    would flag a's, as ``smooth=False`` must."""
    cells = [("a", 45, 20), ("a", 55, 1), ("a", 65, 20),
             ("b", 35, 20), ("b", 55, 1), ("b", 75, 20)]
    df = spark.createDataFrame(
        [
            (0, "r", f"{lang}/{length}/{i}", "c", lang, length, "sha")
            for lang, length, n in cells
            for i in range(n)
        ],
        "partition_id int, repo string, path string, commit string,"
        " lang string, content_length int, content_sha string",
    )

    def flagged(smooth):
        chk = Check("h", "hist2d_outlier", threshold=Threshold("le", 1.0),
                    params=(("lo", 0.0), ("hi", 100.0), ("num_bins", 10),
                            ("min_cell_frac", 0.05), ("smooth", smooth)))
        _, violations = hist2d_outlier_check(df, chk)
        return {r["path"] for r in violations.collect()}

    assert flagged(True) == {"b/55/0"}
    assert flagged(False) == {"a/55/0", "b/55/0"}


def test_hist2d_counts(spark):
    df = spark.createDataFrame(
        [(float(i % 10), float(i)) for i in range(100)], ["x", "y"]
    )
    cells = hist2d(df, "x", "y", 0.0, 10.0, 10, 0.0, 100.0, 10)
    total = cells.agg(F.sum("cnt")).collect()[0][0]
    assert total == 100


def test_multimodal_frame_sample_and_resize(spark):
    """Frame sampling (1->N Arrow expansion) + resize plumbing: shapes,
    counts, determinism (codec stubs, round-sanctioned)."""
    from raqc_spark.functions.multimodal import (
        documents_as_media,
        resize_media,
        sample_frames,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = documents_as_media(d.limit(50))
    frames = sample_frames(media, num_frames=4)
    rows = frames.collect()
    assert len(rows) == 50 * 4
    assert {r["frame_idx"] for r in rows} == {0, 1, 2, 3}
    assert all(isinstance(bytes(r["frame_payload"]), bytes) for r in rows)
    # deterministic
    again = frames.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    small = resize_media(media, target_bytes=16)
    got = small.agg(F.max("n_bytes")).collect()[0][0]
    assert got <= 16
    assert small.filter(F.octet_length("payload") > 16).count() == 0


def test_salted_approx_distinct_contract_reachable(spark, snapshots):
    """method='salted' on an approx_distinct check routes through the
    two-phase salted HLL (VERDICT r2 task 8: previously helper-only), and
    the salted union estimate tracks the single-pass sketch within sketch
    tolerance (sparse→dense promotion differs slightly under merge at low
    cardinality, so exact register identity does not hold there)."""
    from raqc_spark.checks.stats import compile_stats_pass

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    chk = Check("ad_salted", "approx_distinct", column="path",
                threshold=Threshold("ge", 0.0),
                params=(("method", "salted"), ("salt_buckets", 8)))
    verdicts, violations = compile_stats_pass(df, [chk])
    rows = verdicts.collect()
    assert violations is None
    assert {r["check_name"] for r in rows} == {"ad_salted"}
    assert all(r["pass"] for r in rows) and all(
        r["metric_value"] > 0 for r in rows
    )

    single = {
        r["partition_id"]: r["d"]
        for r in df.groupBy("partition_id").agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("path").cast("string"))
            ).alias("d")
        ).collect()
    }
    salted = {
        r["partition_id"]: r["approx_distinct"]
        for r in salted_approx_distinct(
            df, "partition_id", "path", salt_buckets=8
        ).collect()
    }
    exact = {
        r["partition_id"]: r["d"]
        for r in df.groupBy("partition_id").agg(
            F.countDistinct("path").alias("d")
        ).collect()
    }
    for pid, d in exact.items():
        assert abs(salted[pid] - d) / d <= 0.05
        assert abs(salted[pid] - single[pid]) / max(single[pid], 1) <= 0.05


def test_salted_and_fused_distinct_coexist(spark, snapshots):
    """A contract mixing fused and salted approx_distinct emits one verdict
    row per check per partition from the same compile."""
    from raqc_spark.checks.stats import compile_stats_pass

    _, s2, _ = snapshots
    df = prepare(s2, default_contract())
    fused = Check("ad_fused", "approx_distinct", column="path",
                  threshold=Threshold("ge", 0.0))
    salted = Check("ad_salt", "approx_distinct", column="path",
                   threshold=Threshold("ge", 0.0),
                   params=(("method", "salted"),))
    verdicts, _ = compile_stats_pass(df, [fused, salted])
    counts = {
        r["check_name"]: r["n"]
        for r in verdicts.groupBy("check_name").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert counts["ad_fused"] == counts["ad_salt"] > 0
