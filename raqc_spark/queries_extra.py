"""Additional SURVEY.md §2 operator coverage: dim joins, rollup/pivot
reports, as-of join, sessionization, set ops, per-group top-k, histogram
outlier flagging — each with an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from raqc_spark.checks.drift import bucket_col
from raqc_spark.functions.simsearch import _norm
from raqc_spark.sources.testdata import load_table


def q_scan_dim(spark, sf_dir):
    """S2: ancillary dim scan + broadcast join (nation -> region)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


SQL_SCAN_DIM = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_report_rollup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.grouping("o_orderpriority").cast("int").alias("g_pr"),
    )


SQL_REPORT_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_price,
       CAST(grouping(o_orderstatus) AS INT) AS g_st,
       CAST(grouping(o_orderpriority) AS INT) AS g_pr
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_report_pivot(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


SQL_REPORT_PIVOT = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


def q_asof_join(spark, sf_dir):
    """As-of join (Spark lacks a native one): each click event paired with
    the user's most recent PRIOR purchase — conditional last() over an
    ordered window, one shuffle on user_id, no range-join blowup."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_purchase_ts", prior_purchase)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "last_purchase_ts")
    )


SQL_ASOF_JOIN = """
SELECT event_id, user_id, ts, last_purchase_ts FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_purchase_ts
  FROM events)
WHERE event_type = 'click'
"""


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (30 min): lag + cumulative new-session sum."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # TIMESTAMP_NTZ can't cast straight to long; hop via TIMESTAMP (UTC session)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_SESSIONIZATION = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_set_ops(spark, sf_dir):
    """U2: set algebra over user cohorts (intersect / except / union) — ONE
    lazy job: a single scan builds both distinct cohorts via conditional
    aggregation, a full-outer join classifies membership, one agg emits all
    three counts. (Round-1 version ran three eager .count() actions and
    re-injected driver-side literals — three full scans; VERDICT r1.)"""
    e = load_table(spark, sf_dir, "events")
    cohorts = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("is_clicker"),
            F.max(F.col("event_type") == "purchase").alias("is_buyer"),
        )
    )
    return cohorts.agg(
        F.count_if(F.col("is_clicker") & F.col("is_buyer")).alias("n_both"),
        F.count_if(F.col("is_clicker") & ~F.col("is_buyer")).alias(
            "n_click_only"
        ),
        F.count_if(F.col("is_clicker") | F.col("is_buyer")).alias("n_either"),
    )


SQL_SET_OPS = """
SELECT
  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click'
                         INTERSECT
                         SELECT DISTINCT user_id FROM events WHERE event_type='purchase'))
    AS n_both,
  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click'
                         EXCEPT
                         SELECT DISTINCT user_id FROM events WHERE event_type='purchase'))
    AS n_click_only,
  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click'
                         UNION
                         SELECT DISTINCT user_id FROM events WHERE event_type='purchase'))
    AS n_either
"""


def q_running_value(spark, sf_dir):
    """§2.5 window op: per-user running sum of event values, top event per
    user by running total (combines cumulative frame + ranked selection)."""
    e = load_table(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.round(F.sum("value").over(wcum), 4)
    latest = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("running_value", running)
        .withColumn("rk", F.row_number().over(latest))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "running_value")
    )


SQL_RUNNING_VALUE = """
SELECT user_id, event_id, running_value FROM (
  SELECT user_id, event_id,
         round(sum(value) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 4)
           AS running_value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events)
WHERE rk = 1
"""


def q_topk_per_group(spark, sf_dir):
    """Top-3 parts by retail price per brand (rank on rounded metric + key
    so the selected set is deterministic)."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc(F.round("p_retailprice", 2)), F.asc("p_partkey")
    )
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            "rk",
        )
    )


SQL_TOPK_PER_GROUP = """
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price, rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY round(p_retailprice, 2) DESC,
                                     p_partkey ASC) AS rk
  FROM part)
WHERE rk <= 3
"""


def q_hist_outlier(spark, sf_dir):
    """RAQC's 2D-histogram outlier cut on driver data: docs in rare
    (lang × n_chars-bucket) cells (raw count < 3) counted per lang. A plain
    query, not the hist2d_outlier kind: the kind cuts on a smoothed cell
    FRACTION (``min_cell_frac``, checks/drift.py), this on a raw count."""
    d = load_table(spark, sf_dir, "documents")
    b = bucket_col("n_chars", 0.0, 600.0, 12).alias("len_bucket")
    tagged = d.select("doc_id", "lang", b)
    cells = tagged.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rare = cells.filter(F.col("cnt") < 3).select("lang", "len_bucket")
    return (
        tagged.join(F.broadcast(rare), ["lang", "len_bucket"], "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_outlier_docs"))
    )


SQL_HIST_OUTLIER = """
WITH tagged AS (
  SELECT doc_id, lang,
         CAST(least(greatest(floor((n_chars - 0.0) / 50.0), 0), 11) AS INT)
           AS len_bucket
  FROM documents),
cells AS (SELECT lang, len_bucket, count(*) AS cnt FROM tagged GROUP BY 1, 2),
rare AS (SELECT lang, len_bucket FROM cells WHERE cnt < 3)
SELECT t.lang, count(*) AS n_outlier_docs
FROM tagged t SEMI JOIN rare r ON t.lang = r.lang AND t.len_bucket = r.len_bucket
GROUP BY t.lang
"""


EXTRA_QUERIES = {
    "scan_dim": q_scan_dim,
    "report_rollup": q_report_rollup,
    "report_pivot": q_report_pivot,
    "asof_join": q_asof_join,
    "sessionization": q_sessionization,
    "set_ops": q_set_ops,
    "topk_per_group": q_topk_per_group,
    "running_value": q_running_value,
    "hist_outlier": q_hist_outlier,
}

EXTRA_ORACLE = {
    "scan_dim": SQL_SCAN_DIM,
    "report_rollup": SQL_REPORT_ROLLUP,
    "report_pivot": SQL_REPORT_PIVOT,
    "asof_join": SQL_ASOF_JOIN,
    "sessionization": SQL_SESSIONIZATION,
    "set_ops": SQL_SET_OPS,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "running_value": SQL_RUNNING_VALUE,
    "hist_outlier": SQL_HIST_OUTLIER,
}


def q_json_extract(spark, sf_dir):
    """§2.8 json/scalar ops: extract props.k per event_type (JVM-side
    get_json_object — no Python in the path)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events GROUP BY event_type
"""


def q_run_contract_verdicts_oracle(spark, sf_dir):
    """Hash-gated orchestration surface (VERDICT r4 task 6): a REDUCED
    deterministic contract through the FULL run_contract lifecycle
    (prepare -> fused stats pass -> uniqueness family -> checkpoint sinks
    -> verdict union), with every verdict row reproducible in ANSI SQL.

    Two reductions make the DuckDB twin exact where the full contract
    cannot be: ``num_partitions=1`` (partition_id = pmod(xxhash64(key), 1)
    = 0, so the oracle needs no xxhash64 twin) and only exactly-computable
    check kinds (no HLL / percentile sketches). Everything the row passes
    through — derive_cols, the shared partition agg, threshold verdicts,
    the manifest/sink plumbing — is the production path."""
    from raqc_spark.contract import Check, Contract, PartitionSpec, Threshold
    from raqc_spark.runner import fresh_verdicts
    from raqc_spark.sources.testdata import documents_as_code_table

    contract = Contract(
        checks=(
            Check("schema", "schema"),
            Check("null_rate_lang", "null_rate", column="lang",
                  threshold=Threshold("le", 0.005)),
            Check("empty_content", "empty_content", column="content",
                  threshold=Threshold("le", 0.002)),
            Check("bounds_content_length", "bounds", column="content_length",
                  threshold=Threshold("le", 0.05),
                  params=(("lo", 200), ("hi", 20000))),
            Check("uniqueness_repo_lang", "uniqueness",
                  threshold=Threshold("le", 1.0),
                  params=(("keys", ("repo", "lang")),)),
        ),
        partition_spec=PartitionSpec(key="repo", num_partitions=1),
    )
    s2 = documents_as_code_table(spark, sf_dir)
    return fresh_verdicts(spark, contract, s2)


SQL_RUN_CONTRACT_VERDICTS_ORACLE = """
WITH m AS (
  SELECT source AS repo, lang, length(text) AS content_length
  FROM documents
), base AS (
  SELECT count(*) AS n_rows,
    CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS v_null,
    CAST(coalesce(sum(CASE WHEN content_length IS NOT NULL
                       AND content_length = 0 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS v_empty,
    CAST(coalesce(sum(CASE WHEN content_length IS NOT NULL
                       AND (content_length < 200 OR content_length > 20000)
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_bounds
  FROM m
), dup AS (
  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS v_dup
  FROM (SELECT count(*) AS c FROM m GROUP BY repo, lang HAVING count(*) > 1)
)
SELECT CAST(-1 AS INT) AS partition_id, 'schema' AS check_name, true AS pass,
       CAST(0.0 AS DOUBLE) AS metric_value, CAST(0.0 AS DOUBLE) AS threshold,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_violations
UNION ALL
SELECT CAST(0 AS INT), 'null_rate_lang',
       round(CAST(v_null AS DOUBLE) / n_rows, 9) <= 0.005,
       round(CAST(v_null AS DOUBLE) / n_rows, 9), CAST(0.005 AS DOUBLE),
       n_rows, v_null FROM base
UNION ALL
SELECT CAST(0 AS INT), 'empty_content',
       round(CAST(v_empty AS DOUBLE) / n_rows, 9) <= 0.002,
       round(CAST(v_empty AS DOUBLE) / n_rows, 9), CAST(0.002 AS DOUBLE),
       n_rows, v_empty FROM base
UNION ALL
SELECT CAST(0 AS INT), 'bounds_content_length',
       round(CAST(v_bounds AS DOUBLE) / n_rows, 9) <= 0.05,
       round(CAST(v_bounds AS DOUBLE) / n_rows, 9), CAST(0.05 AS DOUBLE),
       n_rows, v_bounds FROM base
UNION ALL
SELECT CAST(0 AS INT), 'uniqueness_repo_lang',
       round(CAST(d.v_dup AS DOUBLE) / b.n_rows, 9) <= 1.0,
       round(CAST(d.v_dup AS DOUBLE) / b.n_rows, 9), CAST(1.0 AS DOUBLE),
       b.n_rows, d.v_dup FROM base b, dup d
"""


EXTRA_QUERIES["json_extract"] = q_json_extract
# the hash-gated run_contract_verdicts_oracle covers the run_contract
# lifecycle (prepare -> fused stats -> sinks -> verdict union); the full
# contract stays exercised by entry() and tests/test_runner.
EXTRA_QUERIES["run_contract_verdicts_oracle"] = q_run_contract_verdicts_oracle
EXTRA_ORACLE["json_extract"] = SQL_JSON_EXTRACT
EXTRA_ORACLE["run_contract_verdicts_oracle"] = SQL_RUN_CONTRACT_VERDICTS_ORACLE


def q_check_embedding_schema(spark, sf_dir):
    """ArrayType schema check (FIXTURES.md F3): every embedding must be a
    64-dim vector with finite norm; per-label rollup."""
    e = load_table(spark, sf_dir, "embeddings")
    dim_ok = F.size("embedding") == 64
    norm = _norm(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_if(~dim_ok).alias("n_bad_dim"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
    )


SQL_CHECK_EMBEDDING_SCHEMA = """
SELECT label, count(*) AS n_vecs,
       CAST(coalesce(sum(CASE WHEN len(embedding) != 64 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_bad_dim,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 4)
         AS avg_norm
FROM embeddings GROUP BY label
"""

EXTRA_QUERIES["check_embedding_schema"] = q_check_embedding_schema
EXTRA_ORACLE["check_embedding_schema"] = SQL_CHECK_EMBEDDING_SCHEMA
