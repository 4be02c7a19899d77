"""Snapshot-pair operators: alignment, histograms, PSI / binned-ECDF KS.

The direct analogue of RAQC's date1/date2 repeat-pass comparison
(SURVEY.md §1.1): snapshot alignment replaces raster clipping (implicit
equi-join on pixel coords becomes an explicit full-outer join on
(repo, path)); the 2D histogram outlier cut becomes rare-cell flagging on a
(lang × content-length-bucket) histogram; drift is measured per partition by
PSI (categorical) and a binned-ECDF Kolmogorov-Smirnov statistic (numeric).

Scale notes:
- Histogram/drift aggregations are hash aggs with map-side combine — the
  shuffled data is (partition × bins) rows, independent of input size.
- KS uses deterministic bin edges, so the statistic is exact w.r.t. the
  binned contract definition and identical at any parallelism
  (SURVEY.md §7.3.1) — no global sort anywhere.
- Histogram cell tables are tiny → neighbor smoothing is a RANGE window
  over them, and the rare-cell flag join back to rows is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raqc_spark.checks.blocks import (
    union_all,
    verdicts_from_partition_agg,
    violation_rows,
)
from raqc_spark.contract import Check

PSI_EPS = 1e-6  # smoothing for empty categories, pinned in the contract


def bucket_sql(value: str, lo: str, hi: str, num_bins: int) -> str:
    """Deterministic fixed-width bucket index in [0, num_bins-1], as SQL text.

    Explicit floor arithmetic (not width_bucket) so the identical formula
    runs on any ANSI engine — the DuckDB oracle uses the same expression.
    ``lo``/``hi`` are SQL expressions (literals, or in-plan derived edges)."""
    width = f"(({hi}) - ({lo})) / {num_bins}"
    raw = f"floor((CAST({value} AS double) - ({lo})) / ({width}))"
    return f"CAST(least(greatest({raw}, 0), {num_bins - 1}) AS int)"


def bucket_col(col: str, lo: float, hi: float, num_bins: int) -> Column:
    """``bucket_sql`` as a Column, for a named column and pinned edges."""
    return F.expr(bucket_sql(col, f"{float(lo)!r}D", f"{float(hi)!r}D", num_bins))


# ---------------------------------------------------------------- alignment


def align_snapshots(
    s1: DataFrame, s2: DataFrame, keys: tuple[str, ...] = ("repo", "path")
) -> DataFrame:
    """Full-outer join of two snapshots classifying added / removed /
    modified / unchanged per key — RAQC's clip+diff recast (SURVEY.md §2.3 J1).

    Sort-merge by default; AQE splits skewed mega-repo keys at runtime.
    Inputs must carry ``content_sha`` (functions.with_derived).
    """
    kl = list(keys)
    a = s1.select(*kl, F.col("content_sha").alias("sha1"))
    b = s2.select(*kl, F.col("content_sha").alias("sha2"))
    joined = a.join(b, kl, "full_outer")
    status = (
        F.when(F.col("sha1").isNull(), F.lit("added"))
        .when(F.col("sha2").isNull(), F.lit("removed"))
        .when(F.col("sha1") == F.col("sha2"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return joined.withColumn("status", status)


# ------------------------------------------------------------------- drift


def _safe_frac_sql(cnt: str, tot: str) -> str:
    """cnt/tot with 0/0 defined as 0 (snapshot side empty for a partition)."""
    return f"CASE WHEN {tot} = 0 THEN 0.0D ELSE {cnt} / {tot} END"


def _psi_from_cells(cells: DataFrame) -> DataFrame:
    """PSI table from per-(partition, val) cnt1/cnt2 cells.

    PSI = Σ_cat (p − q) · ln(p / q), with ε-smoothed proportions. Exact
    integer counts feed the float math, so results are order-independent.
    SQL-text build (see checks/stats.py module docs on py4j round-trip
    cost)."""
    cells = cells.selectExpr(
        "*",
        "sum(cnt1) OVER (PARTITION BY partition_id) AS tot1",
        "sum(cnt2) OVER (PARTITION BY partition_id) AS tot2",
    )
    # Empty-side guard: a partition present in only one snapshot has tot=0 on
    # the other side; define its proportions as 0 (-> every category drifts
    # by its full mass, PSI large, verdict fails) instead of NULL-propagating.
    eps = f"{PSI_EPS!r}D"
    p = f"({_safe_frac_sql('cnt1', 'tot1')} + {eps})"
    q = f"({_safe_frac_sql('cnt2', 'tot2')} + {eps})"
    term = f"(({p}) - ({q})) * ln(({p}) / ({q}))"
    return cells.groupBy("partition_id").agg(
        F.expr(f"round(sum({term}), 9) AS psi"),
        F.expr("max(tot2) AS n_rows"),
    )


def _ks_from_cells(cells: DataFrame) -> DataFrame:
    """Binned-ECDF KS table from per-(partition, bucket) cnt1/cnt2 cells:
    D = max_b |F1(b) − F2(b)| over deterministic fixed bins (SURVEY.md §2.5
    W3)."""
    wcum = ("PARTITION BY partition_id ORDER BY bucket "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    cells = cells.selectExpr(
        "*",
        f"sum(cnt1) OVER ({wcum}) AS cum1",
        f"sum(cnt2) OVER ({wcum}) AS cum2",
        "sum(cnt1) OVER (PARTITION BY partition_id) AS tot1",
        "sum(cnt2) OVER (PARTITION BY partition_id) AS tot2",
    )
    # empty-side guard: ECDF of an empty side is 0 everywhere -> D = max F2
    d = (f"abs(({_safe_frac_sql('cum1', 'tot1')}) - "
         f"({_safe_frac_sql('cum2', 'tot2')}))")
    return cells.groupBy("partition_id").agg(
        F.expr(f"round(max({d}), 9) AS ks"),
        F.expr("max(tot2) AS n_rows"),
    )


def _drift_tables(
    s1: DataFrame, s2: DataFrame, checks: list[Check]
) -> list[tuple[Check, DataFrame, str]]:
    """Every drift check (PSI + KS) in ONE shared scan of each snapshot
    (VERDICT r2 task 1: the per-check families cost 4 groupBy exchanges +
    2 full-outer joins per snapshot pair — a large slice of the per-run
    AQE job floor). Returns ``(check, per-partition table, metric column)``
    per check; the table carries ``partition_id``, ``psi``|``ks`` and
    ``n_rows``.

    Plan: union the two snapshots with a side tag, compute ONE
    ``groupBy(partition_id, dim_1, …, dim_k)`` counting rows per side
    (map-side combined — the shuffle carries at most
    Π|dims| × partitions rows, e.g. langs × length-buckets × partitions,
    independent of input size), then derive each check's (partition, dim)
    marginal from the tiny cube and run the per-check math
    (``_psi_from_cells`` / ``_ks_from_cells``).

    KS bin edges come from the check's ``lo``/``hi`` params, or — when the
    contract doesn't pin them — from s1's global min/max derived IN-PLAN:
    the 1-row aggregate is broadcast-cross-joined onto the union before
    bucketing, so the check stays one lazy DAG with no driver round-trip
    (VERDICT r2 task 6). At 100 TB that pre-agg is still a column-pruned
    scan — pin (lo, hi) in the contract to skip it entirely.
    """
    cols = sorted({c.column for c in checks})
    sides = [
        df.selectExpr("partition_id", f"{tag} AS _side", *cols)
        for tag, df in ((1, s1), (2, s2))
    ]
    u = sides[0].unionByName(sides[1])

    dims: list[tuple[str, str]] = []  # (dim name, SQL text)
    metas: list[tuple[Check, str]] = []  # (check, dim name)
    for c in checks:
        if c.kind == "drift_psi":
            dim = f"val_{c.name}"
            expr = f"coalesce(CAST({c.column} AS string), '<null>')"
        elif c.kind == "drift_ks":
            dim = f"bucket_{c.name}"
            p = c.p
            num_bins = int(p.get("num_bins", 64))
            value = c.column
            if p.get("log_scale"):
                value = f"log1p(CAST({c.column} AS double))"
            lo, hi = p.get("lo"), p.get("hi")
            if lo is None or hi is None:
                mm = F.broadcast(
                    s1.agg(
                        F.expr(f"CAST(min({value}) AS double)"
                               f" AS _lo_{c.name}"),
                        F.expr(f"CAST(max({value}) AS double)"
                               f" AS _hi_{c.name}"),
                    )
                )
                u = u.crossJoin(mm)
                lo_c = (
                    f"coalesce(_lo_{c.name}, 0.0D)"
                    if lo is None else f"{float(lo)!r}D"
                )
                hi_raw = (
                    f"coalesce(_hi_{c.name}, 1.0D)"
                    if hi is None else f"{float(hi)!r}D"
                )
                # degenerate range (all-equal values, or an empty s1's NULLs):
                # widen to one unit so the bucket width is never 0 or NULL
                hi_c = (f"CASE WHEN {hi_raw} <= {lo_c} THEN {lo_c} + 1.0D"
                        f" ELSE {hi_raw} END")
            else:
                lo_f, hi_f = float(lo), float(hi)
                if hi_f <= lo_f:
                    hi_f = lo_f + 1.0
                lo_c, hi_c = f"{lo_f!r}D", f"{hi_f!r}D"
            # NULL value -> NULL bucket, filtered out of this check's
            # marginal below: NULLs are not part of either ECDF.
            # The CASE mask is REQUIRED: Spark's least/greatest skip NULLs,
            # so bucket_sql alone would clamp a NULL value into bucket 0.
            expr = (f"CASE WHEN {value} IS NOT NULL THEN "
                    f"{bucket_sql(value, lo_c, hi_c, num_bins)} END")
        else:  # pragma: no cover - plan.compile_plan routes only drift kinds
            raise ValueError(f"not a drift check: {c.kind}")
        dims.append((dim, expr))
        metas.append((c, dim))

    cube = u.groupBy(
        "partition_id", *[F.expr(f"{e} AS {d}") for d, e in dims]
    ).agg(
        F.expr("count_if(_side = 1) AS cnt1"),
        F.expr("count_if(_side = 2) AS cnt2"),
    )
    # coalesce(1), not persist: SinglePartition satisfies every downstream
    # clustering requirement, so the k marginal groupBys + ECDF windows +
    # verdict aggs all plan WITHOUT exchanges (zero extra AQE stage jobs),
    # and the one cube exchange below is canonically identical across the k
    # verdict branches — AQE reuses it instead of recomputing the pair scan.
    # (persist would add table-cache stage jobs per consumer — measured
    # net-negative on the job floor.)
    # GUARD (ADVICE r3): coalesce(1) is only safe when every PSI dim is
    # low-cardinality — a drift_psi on a near-unique column (e.g. path)
    # makes the cube ~input-cardinality and the single coalesced task
    # serializes the final agg (the uniqueness.py trap, measured 54s->75s
    # there). A check opts out with params=(("categorical", False),); then
    # the cube keeps its hash partitioning and the marginal groupBys pay
    # their (correctly parallel) exchanges instead.
    if all(
        c.kind != "drift_psi" or bool(c.p.get("categorical", True))
        for c in checks
    ):
        cube = cube.coalesce(1)

    tables = []
    for c, dim in metas:
        marginal = cube
        if c.kind == "drift_ks":
            marginal = marginal.filter(f"{dim} IS NOT NULL")
        alias = "val" if c.kind == "drift_psi" else "bucket"
        cc = marginal.groupBy(
            "partition_id", F.expr(f"{dim} AS {alias}")
        ).agg(F.expr("sum(cnt1) AS cnt1"), F.expr("sum(cnt2) AS cnt2"))
        if c.kind == "drift_psi":
            tables.append((c, _psi_from_cells(cc), "psi"))
        else:
            tables.append((c, _ks_from_cells(cc), "ks"))
    return tables


def compile_drift_pass(
    s1: DataFrame, s2: DataFrame, checks: list[Check]
) -> DataFrame:
    """The drift family's verdicts: every check of ``_drift_tables``' one
    cube, as one union of per-check verdict rows."""
    return union_all([
        verdicts_from_partition_agg(table, [(c, metric, "0")])
        for c, table, metric in _drift_tables(s1, s2, checks)
    ])


def drift_check(
    s1: DataFrame, s2: DataFrame, check: Check
) -> tuple[DataFrame, DataFrame]:
    """One drift check (``drift_psi`` or ``drift_ks``) through the same pass
    the contract runs. Returns (verdicts, per-partition psi|ks table)."""
    [(_, table, metric)] = _drift_tables(s1, s2, [check])
    return verdicts_from_partition_agg(table, [(check, metric, "0")]), table


# --------------------------------------------------------------- histograms


def hist2d(
    df: DataFrame,
    xcol: str,
    ycol: str,
    xlo: float,
    xhi: float,
    xbins: int,
    ylo: float,
    yhi: float,
    ybins: int,
) -> DataFrame:
    """2D histogram cell counts — RAQC's np.histogram2d analogue (A6)."""
    return (
        df.filter(F.col(xcol).isNotNull() & F.col(ycol).isNotNull())
        .groupBy(
            bucket_col(xcol, xlo, xhi, xbins).alias("bx"),
            bucket_col(ycol, ylo, yhi, ybins).alias("by"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist2d_outlier_check(
    df: DataFrame, check: Check, pool: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Flag rows in rare (lang × content-length-bucket) histogram cells —
    RAQC's 2D-histogram outlier flagging recast (SURVEY.md §2.4 A6 + §2.5 W2).

    A cell is rare when its smoothed count fraction is below
    ``min_cell_frac``. Smoothing is a 3-cell moving window along the length
    axis *within each lang* (the lang axis is categorical — it has no
    neighbor order, so smoothing across langs would be meaningless); pass
    ``smooth=False`` in params for raw cell fractions. With log-scaled
    buckets (``log_scale=True``) the bins track heavy-tailed length
    distributions instead of lumping 95% of rows into bucket 0.

    Fully lazy: the grand total comes from a window over the (tiny,
    ≤ langs × num_bins rows) cells table — no driver-side action; the plan
    compiles to one scan for cells + one scan for the row-level flag joins.
    Rare-cell keys are broadcast back onto the rows.
    """
    p = check.p
    lo, hi = float(p.get("lo", 0.0)), float(p.get("hi", 100_000.0))
    nbins = int(p.get("num_bins", 32))
    min_frac = float(p.get("min_cell_frac", 1e-4))
    smooth = bool(p.get("smooth", True))

    length = "content_length"
    if p.get("log_scale"):
        length = "log1p(CAST(content_length AS double))"
    lang_idx = "coalesce(lang, '<null>')"
    bucket = bucket_sql(length, f"{lo!r}D", f"{hi!r}D", nbins)

    # NULL lengths are masked out of the histogram (they are the null_rate
    # check's domain, and Spark's least/greatest would silently clamp a NULL
    # bucket to 0, polluting the first cell) — RAQC likewise masks NaN
    # before histogramming. Verdict n_rows counts the histogrammed rows.
    df = df.filter("content_length IS NOT NULL")

    # ONE scan -> per-PARTITION cell counts (≤ partitions × langs × bins
    # rows), coalesced to a single partition so every downstream window /
    # marginal / verdict agg plans WITHOUT further exchanges (VERDICT r2
    # task 1). Persisted: the violations sink (action 1) derives the rare
    # set from it and the verdict agg (action 2) re-reads a few cached KB
    # instead of re-scanning + re-joining the full table.
    cells3 = (
        df.groupBy(
            F.col("partition_id"),
            F.expr(f"{lang_idx} AS lang_cell"),
            F.expr(f"{bucket} AS len_bucket"),
        )
        .agg(F.expr("count(1) AS cnt"))
        .coalesce(1)
    )
    if pool is not None:
        cells3 = cells3.persist()
        pool.append(cells3)

    # Global smoothed score per cell via a RANGE window over len_bucket: the
    # frame spans ALL partitions' rows of the ±1 neighbor buckets, so the sum
    # equals the smoothed global 2D-histogram count (bit-identical to the
    # round-2 global-cells formulation). smooth=False -> raw global cell cnt.
    score = (
        "sum(cnt) OVER (PARTITION BY lang_cell ORDER BY len_bucket"
        " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)"
        if smooth
        else "sum(cnt) OVER (PARTITION BY lang_cell, len_bucket)"
    )
    scored = cells3.selectExpr(
        "*",
        f"(({score}) / (sum(cnt) OVER ())) < {float(min_frac)!r}D AS _rare",
    )

    rare = (
        scored.filter(F.col("_rare"))
        .select("lang_cell", "len_bucket")
        .distinct()
    )
    tagged = df.selectExpr(
        "*", f"{lang_idx} AS lang_cell", f"{bucket} AS len_bucket"
    )
    flagged = tagged.join(
        F.broadcast(rare), ["lang_cell", "len_bucket"], "left_semi"
    )
    violations = violation_rows(
        flagged,
        f"'{check.name}'",
        "format_string('rare hist cell (%s, bucket %d)', lang_cell,"
        " len_bucket)",
    )

    # verdicts entirely from the tiny scored cells — no row-level join
    agg = scored.groupBy("partition_id").agg(
        F.expr("sum(cnt) AS n_rows"),
        F.expr("sum(CASE WHEN _rare THEN cnt ELSE 0 END) AS n_viol"),
    )
    verdicts = verdicts_from_partition_agg(
        agg, [(check, "n_viol / n_rows", "n_viol")]
    )
    return verdicts, violations
