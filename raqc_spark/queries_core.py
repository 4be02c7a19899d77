"""Core validation operators as driver-checkable queries (SURVEY.md §2).

Each op id from the SURVEY §2 inventory appears here as a
``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB-ANSI oracle SQL
string over the same tables. Conventions for oracle-hash stability:

- every computed column is aliased identically on both sides;
- float aggregates are rounded (round-6 for ratios/statistics, round-2 for
  money sums) so engine-order FP noise can't flip the value hash;
- bucketing uses explicit floor arithmetic (checks.drift.bucket_sql) — the
  identical formula inlined in the SQL;
- ordering never matters (driver compare is order-insensitive), but top-k
  SETS are made deterministic by ranking on (rounded metric, key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from raqc_spark.checks.drift import align_snapshots, bucket_col, drift_check, hist2d
from raqc_spark.checks.integrity import ref_table
from raqc_spark.checks.stats import stats_table
from raqc_spark.checks.uniqueness import dup_key_table
from raqc_spark.contract import Check, Threshold
from raqc_spark.sources.testdata import load_table

WEEK_SPLIT = "2024-01-16 00:00:00"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _by(df: DataFrame, group: str | None = None) -> DataFrame:
    """``df`` keyed for the check kinds' table builders: ``partition_id`` is
    the query's group column, or one constant group. An empty group yields
    no row, even the constant one over an empty input (where a SQL global
    aggregate gives one row of zeros): the engine's own rule, under which
    a row-less partition has no verdict (the manifest's ``empty`` key)."""
    return df.withColumn("partition_id", F.col(group) if group else F.lit(0))


# --------------------------------------------------------------- S1: scans


def q_scan_snapshot(spark, sf_dir):
    """Filtered, pruned scan — Catalyst pushes the predicate + reads 3 cols."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity").filter(
        F.col("l_quantity") >= 45
    )


SQL_SCAN_SNAPSHOT = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity >= 45
"""


def q_derive_cols(spark, sf_dir):
    """P1: content_length + content_sha derived columns (BASELINE.json:15)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("content_length"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


SQL_DERIVE_COLS = """
SELECT doc_id, length(text) AS content_length, sha256(text) AS content_sha
FROM documents
"""


# ------------------------------------------------- P2/P3: null/empty/bounds


def q_check_null_rate(spark, sf_dir):
    d = _by(_t(spark, sf_dir, "documents"))
    checks = [Check(c, "null_rate", column=c) for c in ("text", "lang")]
    return stats_table(d, checks).selectExpr(
        "n_rows", "v_text AS n_null_text", "v_lang AS n_null_lang",
        "round(v_text / n_rows, 9) AS null_rate_text",
    )


SQL_CHECK_NULL_RATE = """
SELECT count(*) AS n_rows,
       CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_text,
       CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_lang,
       round(CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9)
         AS null_rate_text
FROM documents
"""


def q_check_empty_content(spark, sf_dir):
    d = _by(_t(spark, sf_dir, "documents"), "source")
    chk = Check("empty", "empty_content", column="text")
    return stats_table(d, [chk]).selectExpr(
        "partition_id AS source", "n_rows", "v_empty AS n_empty"
    )


SQL_CHECK_EMPTY_CONTENT = """
SELECT source, count(*) AS n_rows,
       CAST(coalesce(sum(CASE WHEN text IS NOT NULL AND length(text) = 0
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty
FROM documents GROUP BY source
"""


def q_check_bounds(spark, sf_dir):
    li = _by(_t(spark, sf_dir, "lineitem"))
    return stats_table(li, [
        Check("bounds", "bounds", column="l_quantity",
              params=(("lo", 1), ("hi", 50))),
        Check("qty", "col_stats", column="l_quantity"),
    ]).selectExpr(
        "n_rows", "round(min_qty, 6) AS min_qty", "round(max_qty, 6) AS max_qty",
        "v_bounds AS n_violations",
    )


SQL_CHECK_BOUNDS = """
SELECT count(*) AS n_rows,
       round(min(l_quantity), 6) AS min_qty,
       round(max(l_quantity), 6) AS max_qty,
       CAST(coalesce(sum(CASE WHEN l_quantity IS NOT NULL
                          AND (l_quantity < 1 OR l_quantity > 50)
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
FROM lineitem
"""


# ----------------------------------------------------- A1/A3/A4: stats aggs


def q_check_col_stats(spark, sf_dir):
    li = _by(_t(spark, sf_dir, "lineitem"), "l_returnflag")
    chk = Check("price", "col_stats", column="l_extendedprice")
    return stats_table(li, [chk]).selectExpr(
        "partition_id AS l_returnflag", "n_rows",
        "round(min_price, 2) AS min_price", "round(max_price, 2) AS max_price",
        "round(mean_price, 4) AS mean_price", "round(std_price, 4) AS std_price",
    )


SQL_CHECK_COL_STATS = """
SELECT l_returnflag, count(*) AS n_rows,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       round(avg(l_extendedprice), 4) AS mean_price,
       round(stddev_samp(l_extendedprice), 4) AS std_price
FROM lineitem GROUP BY l_returnflag
"""


def q_check_length_quantiles(spark, sf_dir):
    """A3 with EXACT percentiles (continuous interpolation) so the DuckDB
    quantile_cont oracle matches bit-for-bit after round-6. A plain query,
    not the length_quantiles kind: the kind resolves each quantile to a bin
    edge of binned counts (checks/stats.py), which no exact percentile
    matches; percentile_approx is check_length_quantiles_approx."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99"),
    )


SQL_CHECK_LENGTH_QUANTILES = """
SELECT lang, count(*) AS n_rows,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.95), 6) AS p95,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY lang
"""


def q_check_length_quantiles_approx(spark, sf_dir):
    """A3 through percentile_approx, a mergeable Greenwald-Khanna sketch (no
    DuckDB twin → rows-only in the oracle sweep). Below the accuracy the
    sketch keeps every value, so at sf0.01 each lang's answer is the exact
    nearest-rank quantile; tests/test_oracle_parity.py pins it to a numpy
    reference."""
    d = _t(spark, sf_dir, "documents")
    acc = 10_000
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(acc)).alias("p50"),
        F.percentile_approx("n_chars", F.lit(0.95), F.lit(acc)).alias("p95"),
        F.percentile_approx("n_chars", F.lit(0.99), F.lit(acc)).alias("p99"),
    )


def q_check_distinct_exact(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_CHECK_DISTINCT_EXACT = """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs, count(*) AS n_rows
FROM orders GROUP BY o_orderstatus
"""


def q_check_approx_distinct(spark, sf_dir):
    """A4: the fused HLL ``approx_count_distinct`` (relative SD 0.05). No
    DuckDB oracle (different sketch); tests/test_oracle_parity.py holds each
    count within 3 SD (15%) of the exact ``countDistinct``. The worst error
    read 5.3% at sf0.01 and 10% at sf0.1."""
    d = _by(_t(spark, sf_dir, "documents"), "lang")
    return stats_table(d, [
        Check("docs", "approx_distinct", column="doc_id"),
        Check("srcs", "approx_distinct", column="source"),
    ]).selectExpr(
        "partition_id AS lang", "d_docs AS approx_docs", "d_srcs AS approx_sources"
    )


# --------------------------------------------------- A5/J3: uniqueness


def q_check_uniqueness(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    chk = Check("orderkey", "uniqueness", params=(("keys", ("o_orderkey",)),))
    return dup_key_table(o, chk).selectExpr(
        "count(1) AS dup_groups", "coalesce(sum(count), 0) AS dup_rows"
    )


SQL_CHECK_UNIQUENESS = """
SELECT count(*) AS dup_groups, CAST(coalesce(sum(cnt), 0) AS BIGINT) AS dup_rows
FROM (SELECT o_orderkey, count(*) AS cnt FROM orders
      GROUP BY o_orderkey HAVING count(*) > 1)
"""


# --------------------------------------------------- J2: referential


def q_check_ref_integrity(spark, sf_dir):
    def orphans(relation, fact, dim, key, dim_key):
        chk = Check("fk", "ref_integrity", params=(("keys", (key,)),))
        dim = _t(spark, sf_dir, dim).selectExpr(f"{dim_key} AS {key}")
        return ref_table(_by(_t(spark, sf_dir, fact)), dim, chk).selectExpr(
            f"'{relation}' AS relation", "n_viol AS n_orphans"
        )

    return orphans(
        "lineitem->orders", "lineitem", "orders", "l_orderkey", "o_orderkey"
    ).unionByName(orphans(
        "customer->nation", "customer", "nation", "c_nationkey", "n_nationkey"
    ))


SQL_CHECK_REF_INTEGRITY = """
SELECT 'lineitem->orders' AS relation,
       count(*) FILTER (WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
FROM lineitem l
UNION ALL
SELECT 'customer->nation' AS relation,
       count(*) FILTER (WHERE NOT EXISTS
         (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
FROM customer c
"""


# --------------------------------------------------- J1: snapshot alignment


def _emulated_snapshots(spark, sf_dir):
    """Two overlapping 'snapshots' carved from lineitem: rows keyed by
    (l_orderkey, l_linenumber); s2 perturbs quantity for l_suppkey%7==0
    (the 'modified' class). content_sha = sha2 of the quantity value."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    s1 = li.filter(F.col("l_partkey") % 10 < 8)
    s2 = li.filter(F.col("l_partkey") % 10 >= 2).withColumn(
        "l_quantity",
        F.when(F.col("l_suppkey") % 7 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    mk = lambda df: df.withColumn(
        "content_sha", F.sha2(F.col("l_quantity").cast("string"), 256)
    )
    return mk(s1), mk(s2)


def q_align_snapshots(spark, sf_dir):
    s1, s2 = _emulated_snapshots(spark, sf_dir)
    aligned = align_snapshots(s1, s2, keys=("l_orderkey", "l_linenumber"))
    return aligned.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


SQL_ALIGN_SNAPSHOTS = """
WITH s1 AS (
  SELECT l_orderkey, l_linenumber,
         sha256(CAST(l_quantity AS VARCHAR)) AS sha1
  FROM lineitem WHERE l_partkey % 10 < 8
), s2 AS (
  SELECT l_orderkey, l_linenumber,
         sha256(CAST(CASE WHEN l_suppkey % 7 = 0 THEN l_quantity + 1
                          ELSE l_quantity END AS VARCHAR)) AS sha2
  FROM lineitem WHERE l_partkey % 10 >= 2
)
SELECT CASE WHEN sha1 IS NULL THEN 'added'
            WHEN sha2 IS NULL THEN 'removed'
            WHEN sha1 = sha2 THEN 'unchanged'
            ELSE 'modified' END AS status,
       count(*) AS n
FROM s1 FULL OUTER JOIN s2 USING (l_orderkey, l_linenumber)
GROUP BY 1
"""


# --------------------------------------------------- A6: histograms


def q_hist2d(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return hist2d(li, "l_quantity", "l_extendedprice", 0.0, 50.0, 10, 0.0, 110_000.0, 11)


SQL_HIST2D = """
SELECT CAST(least(greatest(floor((l_quantity - 0.0) / 5.0), 0), 9) AS INT) AS bx,
       CAST(least(greatest(floor((l_extendedprice - 0.0) / 10000.0), 0), 10) AS INT) AS by,
       count(*) AS cnt
FROM lineitem
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY 1, 2
"""


def q_stats_by_bucket(spark, sf_dir):
    """A2: per-bucket grouped stats (the elevation-band analogue)."""
    o = _t(spark, sf_dir, "orders")
    b = bucket_col("o_totalprice", 0.0, 500_000.0, 10).alias("price_band")
    return o.groupBy(b).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
    )


SQL_STATS_BY_BUCKET = """
SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0), 9) AS INT)
         AS price_band,
       count(*) AS n_rows,
       round(avg(o_totalprice), 4) AS mean_price,
       round(median(o_totalprice), 4) AS median_price
FROM orders GROUP BY 1
"""


# --------------------------------------------------- J4/W3: drift


def q_drift_psi(spark, sf_dir):
    """PSI of event_type mix, week1 vs week2 (global partition)."""
    e = _t(spark, sf_dir, "events").withColumn("partition_id", F.lit(0))
    s1 = e.filter(F.col("ts") < WEEK_SPLIT)
    s2 = e.filter(F.col("ts") >= WEEK_SPLIT)
    chk = Check("psi_event_type", "drift_psi", column="event_type",
                threshold=Threshold("le", 0.2))
    _, psi = drift_check(s1, s2, chk)
    return psi.select(F.round(F.col("psi"), 6).alias("psi"), F.col("n_rows"))


SQL_DRIFT_PSI = f"""
WITH c1 AS (SELECT event_type AS val, count(*) AS cnt1 FROM events
            WHERE ts < TIMESTAMP '{WEEK_SPLIT}' GROUP BY 1),
     c2 AS (SELECT event_type AS val, count(*) AS cnt2 FROM events
            WHERE ts >= TIMESTAMP '{WEEK_SPLIT}' GROUP BY 1),
     j AS (SELECT coalesce(c1.val, c2.val) AS val,
                  coalesce(cnt1, 0) AS cnt1, coalesce(cnt2, 0) AS cnt2
           FROM c1 FULL OUTER JOIN c2 ON c1.val = c2.val),
     t AS (SELECT val,
                  CAST(cnt1 AS DOUBLE) / (SELECT sum(cnt1) FROM j) + 1e-6 AS p,
                  CAST(cnt2 AS DOUBLE) / (SELECT sum(cnt2) FROM j) + 1e-6 AS q
           FROM j)
SELECT round(sum((p - q) * ln(p / q)), 6) AS psi,
       CAST((SELECT sum(cnt2) FROM j) AS BIGINT) AS n_rows
FROM t
"""


def q_drift_ks(spark, sf_dir):
    """Binned-ECDF KS on events.value, week1 vs week2, fixed bins [0,500)x50."""
    e = _t(spark, sf_dir, "events").withColumn("partition_id", F.lit(0))
    s1 = e.filter(F.col("ts") < WEEK_SPLIT)
    s2 = e.filter(F.col("ts") >= WEEK_SPLIT)
    chk = Check("ks_value", "drift_ks", column="value",
                threshold=Threshold("le", 0.2),
                params=(("num_bins", 50), ("lo", 0.0), ("hi", 500.0)))
    _, ks = drift_check(s1, s2, chk)
    return ks.select(F.round(F.col("ks"), 6).alias("ks"), F.col("n_rows"))


SQL_DRIFT_KS = f"""
WITH b1 AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket,
         count(*) AS cnt1
  FROM events WHERE ts < TIMESTAMP '{WEEK_SPLIT}' AND value IS NOT NULL GROUP BY 1),
b2 AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket,
         count(*) AS cnt2
  FROM events WHERE ts >= TIMESTAMP '{WEEK_SPLIT}' AND value IS NOT NULL GROUP BY 1),
j AS (SELECT coalesce(b1.bucket, b2.bucket) AS bucket,
             coalesce(cnt1, 0) AS cnt1, coalesce(cnt2, 0) AS cnt2
      FROM b1 FULL OUTER JOIN b2 ON b1.bucket = b2.bucket),
c AS (SELECT bucket,
             CAST(sum(cnt1) OVER (ORDER BY bucket) AS DOUBLE) / (SELECT sum(cnt1) FROM j) AS f1,
             CAST(sum(cnt2) OVER (ORDER BY bucket) AS DOUBLE) / (SELECT sum(cnt2) FROM j) AS f2
      FROM j)
SELECT round(max(abs(f1 - f2)), 6) AS ks,
       CAST((SELECT sum(cnt2) FROM j) AS BIGINT) AS n_rows
FROM c
"""


# --------------------------------------------------- W1/A7: verdict rollup


def q_verdict_rollup(spark, sf_dir):
    """Per-block flag aggregation: a partition fails only when its violation
    RATE crosses the threshold (RAQC mov_wind analogue, SURVEY.md §2.5 W1)."""
    o = _t(spark, sf_dir, "orders")
    viol = F.col("o_totalprice") > 400_000
    agg = o.groupBy((F.col("o_custkey") % 8).cast("int").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(viol).alias("n_violations"),
    )
    rate = F.round(F.col("n_violations") / F.col("n_rows"), 9)
    return agg.select(
        "partition_id",
        "n_rows",
        "n_violations",
        rate.alias("violation_rate"),
        (rate <= 0.05).alias("pass"),
    )


SQL_VERDICT_ROLLUP = """
WITH agg AS (
  SELECT CAST(o_custkey % 8 AS INT) AS partition_id,
         count(*) AS n_rows,
         CAST(coalesce(sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS n_violations
  FROM orders GROUP BY 1)
SELECT partition_id, n_rows, n_violations,
       round(CAST(n_violations AS DOUBLE) / n_rows, 9) AS violation_rate,
       round(CAST(n_violations AS DOUBLE) / n_rows, 9) <= 0.05 AS pass
FROM agg
"""


# --------------------------------------------------- O1/A8: reports


def q_report_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    top = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("o_custkey", "total_spend", "n_orders", "rk")
    )


SQL_REPORT_TOPK = """
SELECT o_custkey, total_spend, n_orders, rk FROM (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
         count(*) AS n_orders,
         row_number() OVER (ORDER BY round(sum(o_totalprice), 2) DESC,
                            o_custkey ASC) AS rk
  FROM orders GROUP BY o_custkey)
WHERE rk <= 10
"""


def q_report_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
    )


SQL_REPORT_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_dedup_exemplar(spark, sf_dir):
    """Deterministic exemplar per (user_id, event_type) — SURVEY.md §2.5."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


SQL_DEDUP_EXEMPLAR = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events)
WHERE rn = 1
"""


# TPC-H Q1-style flagship aggregation (the classic shared-scan agg shape)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


CORE_QUERIES = {
    "scan_snapshot": q_scan_snapshot,
    "derive_cols": q_derive_cols,
    "check_null_rate": q_check_null_rate,
    "check_empty_content": q_check_empty_content,
    "check_bounds": q_check_bounds,
    "check_col_stats": q_check_col_stats,
    "check_length_quantiles": q_check_length_quantiles,
    "check_length_quantiles_approx": q_check_length_quantiles_approx,
    "check_distinct_exact": q_check_distinct_exact,
    "check_approx_distinct": q_check_approx_distinct,
    "check_uniqueness": q_check_uniqueness,
    "check_ref_integrity": q_check_ref_integrity,
    "align_snapshots": q_align_snapshots,
    "hist2d": q_hist2d,
    "stats_by_bucket": q_stats_by_bucket,
    "drift_psi": q_drift_psi,
    "drift_ks": q_drift_ks,
    "verdict_rollup": q_verdict_rollup,
    "report_topk": q_report_topk,
    "report_cube": q_report_cube,
    "dedup_exemplar": q_dedup_exemplar,
    "pricing_summary": q_pricing_summary,
}

CORE_ORACLE = {
    "scan_snapshot": SQL_SCAN_SNAPSHOT,
    "derive_cols": SQL_DERIVE_COLS,
    "check_null_rate": SQL_CHECK_NULL_RATE,
    "check_empty_content": SQL_CHECK_EMPTY_CONTENT,
    "check_bounds": SQL_CHECK_BOUNDS,
    "check_col_stats": SQL_CHECK_COL_STATS,
    "check_length_quantiles": SQL_CHECK_LENGTH_QUANTILES,
    "check_distinct_exact": SQL_CHECK_DISTINCT_EXACT,
    # check_approx_distinct: no oracle (HLL sketch has no DuckDB equivalent)
    "check_uniqueness": SQL_CHECK_UNIQUENESS,
    "check_ref_integrity": SQL_CHECK_REF_INTEGRITY,
    "align_snapshots": SQL_ALIGN_SNAPSHOTS,
    "hist2d": SQL_HIST2D,
    "stats_by_bucket": SQL_STATS_BY_BUCKET,
    "drift_psi": SQL_DRIFT_PSI,
    "drift_ks": SQL_DRIFT_KS,
    "verdict_rollup": SQL_VERDICT_ROLLUP,
    "report_topk": SQL_REPORT_TOPK,
    "report_cube": SQL_REPORT_CUBE,
    "dedup_exemplar": SQL_DEDUP_EXEMPLAR,
    "pricing_summary": SQL_PRICING_SUMMARY,
}
