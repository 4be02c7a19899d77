"""Property-based tests (SURVEY.md §5.2.4) — hypothesis over pure helpers,
plus seeded invariants over the fixture generator. Spark-free where possible
so these stay fast."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures.generate import generate
from raqc_spark.contract import Threshold


@given(
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
    st.sampled_from(["le", "ge", "lt", "gt", "eq"]),
)
def test_threshold_python_semantics(metric, value, op):
    t = Threshold(op, value)
    expected = {
        "le": metric <= value,
        "ge": metric >= value,
        "lt": metric < value,
        "gt": metric > value,
        "eq": metric == value,
    }[op]
    assert t.passes(metric) == expected


@given(
    st.lists(st.floats(min_value=-1e6, max_value=2e6), max_size=16),
    st.integers(min_value=1, max_value=256),
    st.floats(min_value=-1e5, max_value=1e5),
    st.floats(min_value=1e-3, max_value=1e6),
)
@settings(max_examples=10, deadline=None)
def test_bucket_formula_clamps(spark, xs, nb, lo, span):
    """checks.drift.bucket_col, evaluated by Spark, equals its python twin
    and stays in [0, nb-1] — on drawn values plus every exact bin edge,
    the float just below lo, hi, and the float just above hi."""
    from raqc_spark.checks.drift import bucket_col

    hi = lo + span
    width = (hi - lo) / nb
    probes = xs + [lo + i * width for i in range(nb + 1)] + [
        math.nextafter(lo, -math.inf), hi, math.nextafter(hi, math.inf),
    ]
    df = spark.createDataFrame(list(enumerate(probes)), "i int, x double")
    got = dict(df.select("i", bucket_col("x", lo, hi, nb)).collect())
    for i, x in enumerate(probes):
        b = min(max(math.floor((x - lo) / width), 0), nb - 1)
        assert got[i] == b, (x, lo, hi, nb, got[i], b)
        assert 0 <= b <= nb - 1


def test_fixture_generator_is_deterministic():
    a = generate(n_files=300, n_repos=8, seed=7)
    b = generate(n_files=300, n_repos=8, seed=7)
    for t in ("s1", "s2", "commits"):
        assert getattr(a, t).equals(getattr(b, t))
    assert a.golden == b.golden


def test_fixture_violation_rates_scale():
    fx = generate(n_files=2000, n_repos=16, seed=3)
    n2 = len(fx.s2)
    # V3 nulls ~1%, V4 empties ~0.5% (of the post-dup row count)
    assert 0.005 * n2 <= len(fx.golden["null_content"]) <= 0.02 * n2
    assert len(fx.golden["empty_content"]) >= 1
    assert len(fx.golden["uniqueness"]) >= 2
    assert len(fx.golden["ref_integrity"]) >= 1
    # mega-repo skew present: repo_0000 holds >= 30% of rows
    frac = (fx.s2["repo"] == "repo_0000").mean()
    assert frac >= 0.3


def test_fixture_golden_keys_exist_in_s2():
    import hashlib

    fx = generate(n_files=500, n_repos=8, seed=11)
    empty_sha = hashlib.sha256(b"").hexdigest()
    s2_keys = set(
        zip(fx.s2["repo"], fx.s2["path"], fx.s2["commit"], strict=True)
    )
    for check, keys in fx.golden.items():
        for repo, path, commit, sha in keys:
            assert (repo, path, commit) in s2_keys, (check, repo, path)
            assert len(sha) == 64
    # null-content rows carry the documented empty-string sha constant
    for _, _, _, sha in fx.golden["null_content"]:
        assert sha == empty_sha


def test_contract_yaml_roundtrip(tmp_path):
    """UserConfig analogue (SURVEY.md §1.2): YAML round-trip is exact."""
    from raqc_spark.contract import Contract, default_contract

    c = default_contract()
    text = c.to_yaml()
    assert Contract.from_yaml(text) == c
    p = tmp_path / "contract.yaml"
    p.write_text(text)
    assert Contract.from_yaml(str(p)) == c


def test_contract_yaml_rejects_unknown_kind():
    import pytest as _pytest

    from raqc_spark.contract import Contract

    bad = "checks:\n- name: x\n  kind: nonsense\n"
    with _pytest.raises(ValueError, match="unknown check kind"):
        Contract.from_yaml(bad)


def test_contract_yaml_rejects_misspelt_keys():
    """A typo at any level of a YAML contract fails, naming the key, instead
    of silently running the default: the contract, partition_spec, check
    and threshold keys, and the params a check's kind does not read."""
    import pytest as _pytest

    from raqc_spark.contract import Contract

    head = "checks:\n- name: q\n  kind: length_quantiles\n  column: c\n"
    Contract.from_yaml(head + "  params: {num_bins: 16}\n")  # well-formed
    for text, key in [
        (head + "partition_spec: {num_partitons: 64}\n", "num_partitons"),
        (head + "partition_spec: {salt_buckets: 32}\n", "salt_buckets"),
        (head + "schema_column: [c]\n", "schema_column"),
        (head + "  colunm: c\n", "colunm"),
        (head + "  threshold: {op: le, vaule: 1.0}\n", "vaule"),
        (head + "  params: {num_bin: 16}\n", "num_bin"),
    ]:
        with _pytest.raises(ValueError, match=f"'{key}'"):
            Contract.from_yaml(text)


def test_every_kind_rejects_params_it_does_not_read():
    """validate() checks each check's params against its kind's allow-list
    (``KIND_PARAMS``): a param another kind reads is still rejected."""
    import pytest as _pytest

    from raqc_spark.contract import KIND_PARAMS, Check, Contract

    for kind, params in KIND_PARAMS.items():
        stray = "qs" if kind != "length_quantiles" else "keys"
        assert stray not in params
        chk = Check("c", kind, column="content", params=((stray, 1),))
        with _pytest.raises(ValueError, match=f"unknown params \\['{stray}'\\]"):
            Contract(checks=(chk,)).validate()


def test_bin_quantile_rank_property_random_data(spark):
    """Property (hypothesis-style, seed-pinned loop): for random length
    distributions, the binned p-quantile edge E satisfies the rank
    definition: count(v <= E) >= p*n and count(v <= prev_edge) < p*n."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from raqc_spark.checks.stats import compile_stats_pass
    from raqc_spark.contract import Check, Threshold

    rng = np.random.default_rng(7)
    for trial in range(3):
        lens = np.clip(
            rng.lognormal(rng.uniform(3, 8), rng.uniform(0.5, 2.0), 2000),
            1, 2_000_000,
        ).astype(int)
        df = spark.createDataFrame(
            [(int(v),) for v in lens], ["content_length"]
        ).withColumn("partition_id", F.lit(0)).withColumn(
            "repo", F.lit("r")
        ).withColumn("path", F.lit("p")).withColumn(
            "commit", F.lit("c")
        ).withColumn("content_sha", F.lit("s"))
        chk = Check("lq", "length_quantiles", column="content_length",
                    threshold=Threshold("le", 1e12),
                    params=(("qs", (0.5, 0.9, 0.99)),))
        verdicts, _ = compile_stats_pass(df, [chk])
        edge = verdicts.collect()[0]["metric_value"]  # p99 edge
        n = len(lens)
        le = (np.log1p(lens) <= math.log1p(edge) + 1e-9).sum()
        assert le >= 0.99 * n, (trial, edge, le, n)
        width = 14.0 / 128
        prev = math.log1p(edge) - width
        if prev > 1e-9:
            below = (np.log1p(lens) <= prev + 1e-9).sum()
            assert below < 0.99 * n, (trial, edge, below, n)
