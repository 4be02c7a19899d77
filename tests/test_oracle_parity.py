"""Replicates the driver's correctness gate locally (SURVEY.md §5.2.2):
every ``queries()`` entry vs its ``oracle_sql()`` DuckDB twin at sf0.01 —
row count, column-name set, and order-insensitive value comparison.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

QUERIES = entry_mod.queries()
ORACLE = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in idx) for r in rows
    ), [cols[i] for i in idx]


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLE[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row counts differ"
    s_set, _ = _rowset(s_cols, s_rows)
    d_set, _ = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in d_set][:3]
        diff_d = [r for r in d_set if r not in s_set][:3]
        raise AssertionError(
            f"{name}: value mismatch\n spark-only={diff_s}\n duck-only={diff_d}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_length_quantiles_approx_matches_nearest_rank_reference(spark):
    """``check_length_quantiles_approx`` against Spark's documented
    percentile_approx definition, computed with numpy: the smallest value v
    with at least ceil(p·n) values <= v (nearest rank). Each lang has 64-218
    rows, fewer than the accuracy of 10 000, so the sketch keeps every value
    and must be exact."""
    from fractions import Fraction

    import numpy as np
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["lang", "n_chars"]
    ).to_pandas()
    want = {}
    for lang, g in docs.groupby("lang"):
        v = np.sort(g["n_chars"].to_numpy())
        n = len(v)
        want[lang] = (n,) + tuple(
            int(v[max(math.ceil(Fraction(q) * n), 1) - 1])
            for q in ("0.5", "0.95", "0.99")
        )
    assert len(want) == 5 and max(w[0] for w in want.values()) < 10_000

    got = {
        r["lang"]: (r["n_rows"], r["p50"], r["p95"], r["p99"])
        for r in QUERIES["check_length_quantiles_approx"](spark, SF_DIR).collect()
    }
    assert got == want


def test_approx_distinct_within_three_sd_of_exact(spark):
    """``check_approx_distinct`` against exact distinct counts from pandas:
    each lang's HLL count of ``doc_id`` and of ``source`` lies within
    3·rsd = 0.15 relative of the true count (rsd = 0.05, Spark's default)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["lang", "doc_id", "source"]
    ).to_pandas()
    want = docs.groupby("lang").nunique()
    got = QUERIES["check_approx_distinct"](spark, SF_DIR).collect()
    assert sorted(r["lang"] for r in got) == sorted(want.index)
    for r in got:
        for col, exact in (("approx_docs", "doc_id"), ("approx_sources", "source")):
            true = want.loc[r["lang"], exact]
            assert abs(r[col] - true) <= 0.15 * true, (r["lang"], col, r[col], true)


# each same-semantics check query and the check kind's table builder it runs
KIND_BUILDERS = {
    "check_null_rate": "stats_table",
    "check_empty_content": "stats_table",
    "check_bounds": "stats_table",
    "check_col_stats": "stats_table",
    "check_approx_distinct": "stats_table",
    "check_uniqueness": "dup_key_table",
    "check_ref_integrity": "ref_table",
}


@pytest.mark.parametrize("name", sorted(KIND_BUILDERS))
def test_check_query_runs_its_kinds_table_builder(spark, monkeypatch, name):
    """The query builds its DataFrame (no action) through the builder the
    engine's compiler uses, so its oracle hash checks the engine."""
    import raqc_spark.queries_core as qc
    from raqc_spark.checks import integrity, stats, uniqueness

    engine = {
        "stats_table": stats.stats_table,
        "dup_key_table": uniqueness.dup_key_table,
        "ref_table": integrity.ref_table,
    }
    calls = []
    for builder, fn in engine.items():
        assert getattr(qc, builder) is fn

        def spy(*args, _builder=builder, _fn=fn, **kwargs):
            calls.append(_builder)
            return _fn(*args, **kwargs)

        monkeypatch.setattr(qc, builder, spy)
    QUERIES[name](spark, SF_DIR)
    assert calls and set(calls) == {KIND_BUILDERS[name]}


def test_empty_group_yields_no_row(spark):
    """An empty group has no verdict: over a zero-row frame keyed by the
    constant group of queries_core._by, the kinds' tables return no row
    (where a SQL global aggregate returns one row of zeros). A row-less
    partition of a contract run has no verdict row either."""
    from raqc_spark.checks.integrity import ref_table
    from raqc_spark.checks.stats import stats_table
    from raqc_spark.contract import Check
    from raqc_spark.queries_core import _by

    df = _by(spark.createDataFrame([], "k long, v double"))
    dim = spark.createDataFrame([(1,)], "k long")
    null_rate = Check("v", "null_rate", column="v")
    fk = Check("fk", "ref_integrity", params=(("keys", ("k",)),))
    assert stats_table(df, [null_rate]).count() == 0
    assert ref_table(df, dim, fk).count() == 0
