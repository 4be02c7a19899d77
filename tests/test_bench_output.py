"""The driver's bench output contract (VERDICT r4 "What's wrong" #2).

BENCH_r04 parsed as null because the single stdout JSON line outgrew the
driver's bounded tail buffer. The contract now: full record to a committed
file, ONE compact final stdout line that stays parseable and keeps the
driver-required keys.
"""

from __future__ import annotations

import json

from bench import make_compact_line

FULL = {
    "metric": "validation-suite wall time (contract + headline queries)",
    "value": 30.0,
    "unit": "sec",
    "queries": {f"q{i}": round(0.1 * i, 3) for i in range(22)},
    "sf": 0.1,
    "cpus": 32,
    "quiet_window": True,
    "headline_quiet_window": True,
    "query_env": {f"q{i}": {"ts": 1.7e9 + i, "procs": [1, 2, 3]} for i in range(22)},
    "regressions": [],
    "contract_rows": 663913,
    "contract_wall_sec": 15.5,
    "contract_rows_per_sec": 42833.1,
    "contract_batched4_wall_sec": 17.0,
    "contract_env": [{"quiet": True, "procs": [1, 1], "wall": 15.5}],
    "scaling": {
        "metric": "throughput scaling efficiency local[1] -> local[4]",
        "rows": 10623491,
        "pairs": [{"n": {"wall": 300.0}, "n4": {"wall": 90.0}, "eff": 0.83}] * 5,
        "efficiency": 0.83,
        "median_quiet_efficiency": 0.87,
        "n_quiet_pairs": 5,
        "t_n_sec": 300.0,
        "t_4n_sec": 90.0,
        "rows_per_sec_n": 35000.0,
        "rows_per_sec_4n": 118000.0,
        "floor_sec": 10.8,
    },
}


def test_compact_line_parses_and_keeps_driver_contract_keys():
    line = make_compact_line(FULL, "BENCH/bench_result_r5.json")
    doc = json.loads(line)
    # driver contract: ONE JSON line with these keys
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in doc, k
    assert len(line) < 3500
    # the bulky diagnostics live in the file, never on stdout
    assert "query_env" not in doc
    assert "pairs" not in doc.get("scaling", {})
    assert doc["full_result_file"] == "BENCH/bench_result_r5.json"


def test_compact_line_sheds_sections_rather_than_growing():
    big = dict(FULL)
    # a pathological regressions payload (the r4 failure mode: growth)
    big["regressions"] = [
        {"query": f"some_very_long_query_name_{i}", "sec": 1.0, "prior_sec": 0.5}
        for i in range(200)
    ]
    line = make_compact_line(big, "BENCH/x.json")
    doc = json.loads(line)
    assert len(line) <= 3500
    for k in ("metric", "value", "unit", "sf"):
        assert k in doc, k
    # ADVICE r5: "queries" is driver-REQUIRED — shedding may truncate it to
    # the HEADLINE subset but never drop the key
    assert "queries" in doc


def test_compact_line_truncates_queries_but_never_drops_the_key():
    from bench import HEADLINE

    big = dict(FULL)
    # make the queries map itself the oversized payload
    big["queries"] = {
        f"extremely_long_query_name_padding_{i:04d}": 1.234 for i in range(400)
    }
    big["queries"].update({h: 0.5 for h in HEADLINE})
    big.pop("scaling")
    line = make_compact_line(big, "BENCH/x.json")
    doc = json.loads(line)
    assert len(line) <= 3500
    assert set(doc["queries"]) == set(HEADLINE)
    assert doc.get("queries_truncated_to_headline") is True


def test_latest_prior_bench_min_merges_usable_records(tmp_path, monkeypatch):
    """VERDICT r5 tasks 2+3: an empty parsed.queries prior (the r4
    artifact) must not make the regression gate vacuous, and a polluted
    driver reading (r5's 24.7s cosine_topk vs the committed quiet 0.6s)
    must not set a lenient threshold — the prior is the per-query MIN over
    every usable record of the same cpus and sf."""
    import bench as bench_mod

    monkeypatch.setattr(bench_mod, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    host = {"cpus": 4, "sf": 0.1}

    def write(rel, doc):
        (tmp_path / rel).write_text(json.dumps(doc))

    # only unparseable records (r4 failure shape) -> no prior, gate skips
    write("BENCH_r04.json", {**host, "parsed": {}})
    assert bench_mod._latest_prior_bench(4, 0.1) is None

    # an older driver record with real queries is found despite r4
    write("BENCH_r03.json", {**host, "parsed": {"queries": {"q1": 1.5}}})
    assert bench_mod._latest_prior_bench(4, 0.1) == {"q1": 1.5}

    # a polluted newer driver reading does NOT loosen the prior; the
    # committed quiet record's faster number wins per-query
    write("BENCH_r05.json", {**host, "queries": {"q1": 24.7, "q2": 0.4}})
    write("BENCH/bench_result_r5.json",
          {**host, "queries": {"q1": 0.6, "q2": 0.9}})
    assert bench_mod._latest_prior_bench(4, 0.1) == {"q1": 0.6, "q2": 0.4}


def test_priors_come_from_the_same_cpus_and_sf(tmp_path, monkeypatch):
    """A record made on another core count or scale factor is no prior: the
    32-core records must not flag a 4-core run's readings as regressions.
    A driver record's top-level cpus/sf count when its parsed record lacks
    them."""
    import bench as bench_mod

    monkeypatch.setattr(bench_mod, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH_r07.json").write_text(json.dumps({
        "cpus": 32, "sf": 0.1,
        "parsed": {"queries": {"q1": 0.2}, "contract_batched4_wall_sec": 10.2},
    }))
    (tmp_path / "BENCH" / "bench_result_r7_sf1.json").write_text(json.dumps(
        {"cpus": 4, "sf": 1.0, "queries": {"q1": 9.0},
         "contract_batched4_wall_sec": 40.0}
    ))
    assert bench_mod._latest_prior_bench(4, 0.1) is None
    assert bench_mod._prior_scalar("contract_batched4_wall_sec", 4, 0.1) is None
    assert bench_mod._latest_prior_bench(32, 0.1) == {"q1": 0.2}
    assert bench_mod._prior_scalar("contract_batched4_wall_sec", 32, 0.1) == 10.2
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({
        "cpus": 4, "sf": 0.1,
        "parsed": {"queries": {"q1": 1.1}, "contract_batched4_wall_sec": 12.0},
    }))
    assert bench_mod._latest_prior_bench(4, 0.1) == {"q1": 1.1}
    assert bench_mod._prior_scalar("contract_batched4_wall_sec", 4, 0.1) == 12.0


def test_round_no_env_override(monkeypatch):
    import bench as bench_mod

    monkeypatch.setenv("RAQC_BENCH_ROUND", "42")
    assert bench_mod._round_no() == 42


def test_prior_scalar_min_merges_records(tmp_path, monkeypatch):
    """The batched/contract walls self-adjudicate against the best known
    prior scalar, min-merged over the same record set as the per-query
    prior (r6: a polluted 45.8s batched4 sample shipped un-gated)."""
    import bench as bench_mod

    monkeypatch.setattr(bench_mod, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    key = "contract_batched4_wall_sec"
    assert bench_mod._prior_scalar(key, 4, 0.1) is None
    (tmp_path / "BENCH_r05.json").write_text(
        json.dumps({"cpus": 4, "sf": 0.1, "parsed": {key: 18.6}})
    )
    (tmp_path / "BENCH" / "bench_result_r6.json").write_text(
        json.dumps({"cpus": 4, "sf": 0.1, key: 45.8})
    )
    assert bench_mod._prior_scalar(key, 4, 0.1) == 18.6


def test_cpus_default_to_the_cores_this_process_may_run_on(monkeypatch):
    import bench as bench_mod

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(bench_mod.os, "sched_getaffinity", lambda pid: {0, 1, 5})
    assert bench_mod._cpus() == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert bench_mod._cpus() == "7"
