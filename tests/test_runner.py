"""Lifecycle tests: run_contract end-to-end, checkpoint/resume (§5.2.6),
and the driver entry smoke."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from raqc_spark.contract import default_contract
from raqc_spark.runner import run_contract


def _run(spark, snapshots, run_dir, resume=True):
    s1, s2, commits = snapshots
    return run_contract(
        spark,
        default_contract(),
        s2,
        s1=s1,
        commits_dim=commits,
        run_dir=str(run_dir),
        resume=resume,
    )


def test_run_contract_end_to_end(spark, snapshots, tmp_path):
    res = _run(spark, snapshots, tmp_path / "run1")
    v = res.verdicts
    names = {r["check_name"] for r in v.select("check_name").distinct().collect()}
    c = default_contract()
    assert names == {chk.name for chk in c.checks}
    assert not res.passed  # injected violations must fail some partition
    # violations materialized on disk for predicate/keyed checks
    viol_dir = os.path.join(res.run_dir, "violations")
    assert os.path.isdir(viol_dir) and len(os.listdir(viol_dir)) >= 3


def test_resume_skips_completed_families(spark, snapshots, tmp_path):
    rd = tmp_path / "run2"
    first = _run(spark, snapshots, rd)
    assert first.families_run and not first.families_skipped

    second = _run(spark, snapshots, rd)
    assert not second.families_run
    assert set(second.families_skipped) == set(first.families_run)
    # identical verdicts after resume
    a = {tuple(r) for r in first.verdicts.collect()}
    b = {tuple(r) for r in second.verdicts.collect()}
    assert a == b


def test_resume_after_partial_run(spark, snapshots, tmp_path):
    """Simulate a crash: truncate the manifest to k families, re-run,
    assert only the missing families execute and outputs are identical."""
    rd = tmp_path / "run3"
    full = _run(spark, snapshots, rd)
    manifest_path = os.path.join(str(rd), "manifest.json")
    with open(manifest_path) as f:
        data = json.load(f)
    kept = dict(list(data["families"].items())[:2])
    with open(manifest_path, "w") as f:
        json.dump({"families": kept}, f)

    resumed = _run(spark, snapshots, rd)
    assert set(resumed.families_skipped) == set(kept)
    assert set(resumed.families_run) == set(data["families"]) - set(kept)
    a = {tuple(r) for r in full.verdicts.collect()}
    b = {tuple(r) for r in resumed.verdicts.collect()}
    assert a == b


def test_driver_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "partition_id", "check_name", "pass", "metric_value",
        "threshold", "n_rows", "n_violations",
    }


def test_run_granularity_matches_family_granularity(spark, snapshots, tmp_path):
    """granularity='run' (2 actions) must produce identical verdicts and the
    same per-family manifest as the family-wise path."""
    from raqc_spark.runner import Manifest, run_contract
    from raqc_spark.contract import default_contract

    s1, s2, commits = snapshots
    a = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "fam"), resume=False)
    b = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "run"), resume=False,
                     granularity="run")
    va = {tuple(r) for r in a.verdicts.collect()}
    vb = {tuple(r) for r in b.verdicts.collect()}
    assert va == vb
    ma = Manifest(str(tmp_path / "fam")).state()
    mb = Manifest(str(tmp_path / "run")).state()
    assert set(ma) == set(mb)
    for fam in ma:
        (ra, done_a), (rb, done_b) = ma[fam], mb[fam]
        assert done_a and done_b, fam
        ka = {(r["partition_id"], r["check_name"]) for r in ra}
        kb = {(r["partition_id"], r["check_name"]) for r in rb}
        assert ka == kb
    # and a family-wise resume over the run-granularity manifest skips all
    c = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "run"), resume=True)
    assert not c.families_run


def test_resume_recomputes_only_missing_partitions(spark, snapshots, tmp_path):
    """north_rule per-partition lineage: a partially-checkpointed family
    resumes at partition granularity. Sentinel metric values planted in the
    manifest must SURVIVE the resume (proof the completed partitions were
    not recomputed) while the missing partitions come back correct."""
    rd = tmp_path / "run_pp"
    full = _run(spark, snapshots, rd)
    full_rows = {
        (r["check_name"], r["partition_id"]): tuple(r)
        for r in full.verdicts.collect()
    }

    mpath = os.path.join(str(rd), "manifest.json")
    with open(mpath) as f:
        data = json.load(f)
    entry = data["families"]["stats"]
    kept = []
    kept_pids = set()
    for r in entry["verdicts"]:
        if r["partition_id"] < 4:
            r = dict(r)
            r["metric_value"] = 123456.0  # sentinel
            kept.append(r)
            kept_pids.add(r["partition_id"])
    entry["verdicts"], entry["complete"] = kept, False
    with open(mpath, "w") as f:
        json.dump(data, f)

    res = _run(spark, snapshots, rd)
    # partition 0 of this fixture holds no rows: the fresh run recorded it
    # as empty, so it counts as done although it has no verdict row
    assert 0 not in kept_pids
    assert res.partitions_resumed == {"stats": [4, 5, 6, 7]}
    assert "stats" in res.families_run
    stats_checks = {
        r["check_name"] for r in full.verdicts.collect()
    } - {"uniqueness", "ref_integrity", "drift_psi_lang", "drift_ks_length",
         "schema", "hist2d_outlier_lang_length"}
    for r in res.verdicts.collect():
        if r["check_name"] not in stats_checks:
            continue
        if r["partition_id"] < 4:
            assert r["metric_value"] == 123456.0  # reused from checkpoint
        else:
            assert tuple(r) == full_rows[(r["check_name"], r["partition_id"])]


@pytest.mark.parametrize("granularity", ["family", "run"])
def test_partition_batches_equivalent(spark, snapshots, tmp_path, granularity):
    """partition_batches=3 must yield identical verdicts/violations to a
    single-shot run, with every family complete in the manifest, whichever
    lanes (granularity) run the chunks."""
    from raqc_spark.runner import Manifest

    s1, s2, commits = snapshots
    a = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "one"), resume=False)
    b = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "bat"), resume=False,
                     granularity=granularity, partition_batches=3)
    assert {tuple(r) for r in a.verdicts.collect()} == {
        tuple(r) for r in b.verdicts.collect()
    }
    state = Manifest(str(tmp_path / "bat")).state()
    assert all(done for _, done in state.values())
    va = spark.read.parquet(str(tmp_path / "one" / "violations"))
    vb = spark.read.parquet(str(tmp_path / "bat" / "violations"))
    key = ["family", "check_name", "repo", "path", "commit", "content_sha"]
    assert {tuple(r) for r in va.select(*key).collect()} == {
        tuple(r) for r in vb.select(*key).collect()
    }


def _assert_verdicts_match_sink(res):
    """Every (check_name, partition_id) verdict's n_violations equals that
    check's sink rows in that partition, and no sink row lacks a verdict.
    The sink is read with pyarrow, so the count shares no code with the
    engine."""
    import pyarrow.dataset as ds

    sink = Counter(
        (r["check_name"], r["partition_id"])
        for r in ds.dataset(
            os.path.join(res.run_dir, "violations"), format="parquet",
            partitioning="hive",
        ).to_table(columns=["check_name", "partition_id"]).to_pylist()
    )
    verdicts = {
        (r["check_name"], r["partition_id"]): r["n_violations"]
        for r in res.verdicts.collect()
    }
    assert set(sink) <= set(verdicts), set(sink) - set(verdicts)
    disagree = {
        k: (n, sink[k]) for k, n in verdicts.items() if n != sink[k]
    }
    assert not disagree, disagree
    assert sum(sink.values()) > 0  # the fixture injects violations


@pytest.mark.parametrize("partition_batches", [1, 4])
@pytest.mark.parametrize("granularity", ["family", "run"])
def test_verdicts_agree_with_violation_rows(
    spark, snapshots, tmp_path, granularity, partition_batches
):
    s1, s2, commits = snapshots
    res = run_contract(spark, default_contract(), s2, s1=s1,
                       commits_dim=commits, run_dir=str(tmp_path / "agree"),
                       resume=False, granularity=granularity,
                       partition_batches=partition_batches)
    _assert_verdicts_match_sink(res)


def _crash(run_dir, keep_below):
    """Keep only the manifest rows of partitions < ``keep_below`` and mark
    every family incomplete: a crash between batch commits. Returns each
    family's kept partition_ids."""
    mpath = os.path.join(run_dir, "manifest.json")
    with open(mpath) as f:
        data = json.load(f)
    for fam in data["families"].values():
        fam["verdicts"] = [
            r for r in fam["verdicts"] if r["partition_id"] < keep_below
        ]
        fam["complete"] = False
    with open(mpath, "w") as f:
        json.dump(data, f)
    return {
        name: {r["partition_id"] for r in fam["verdicts"]}
        for name, fam in data["families"].items()
    }


def test_resumed_verdicts_agree_with_violation_rows(spark, snapshots, tmp_path):
    """A crash between batch commits leaves the manifest with the first
    partitions of each family, marked incomplete, and the sink with every
    partition; the resumed run's verdicts must still match the sink."""
    s1, s2, commits = snapshots
    rd = str(tmp_path / "agree_resume")

    def run(resume):
        return run_contract(spark, default_contract(), s2, s1=s1,
                            commits_dim=commits, run_dir=rd, resume=resume,
                            partition_batches=4)

    run(False)
    _crash(rd, keep_below=4)
    res = run(True)
    assert {4, 5, 6, 7} <= set(res.partitions_resumed["stats"])
    _assert_verdicts_match_sink(res)


def test_resume_counts_partitions_without_rows_as_done(
    spark, snapshots, tmp_path
):
    """A partition with no rows gets no verdict row in any family. The
    manifest records it as empty, so a resume does not list it again: with
    partitions < 4 kept, each splittable family resumes exactly 4..7, and
    with every partition kept no family resumes at all."""
    from raqc_spark.plan import compile_plan, prepare

    s1, s2, commits = snapshots
    c = default_contract()
    splittable = {
        f.name
        for f in compile_plan(spark, c, prepare(s2, c), prepare(s1, c),
                              commits, raw_schema=s2.schema)
        if f.splittable
    }
    rd = str(tmp_path / "empty_pid")

    def run(resume):
        return run_contract(spark, c, s2, s1=s1, commits_dim=commits,
                            run_dir=rd, resume=resume, partition_batches=4)

    fresh = run(False)
    kept = _crash(rd, keep_below=8)
    # the fixture's partition 0 is empty: no family has a verdict row for it
    assert all(0 not in pids for pids in kept.values())

    res = run(True)
    assert res.partitions_resumed == {}
    assert splittable <= set(res.families_skipped)
    assert {tuple(r) for r in res.verdicts.collect()} == {
        tuple(r) for r in fresh.verdicts.collect()
    }

    _crash(rd, keep_below=4)
    res = run(True)
    assert res.partitions_resumed == {f: [4, 5, 6, 7] for f in splittable}


def test_schema_check_failure_row(spark, snapshots):
    """A source missing ``lang`` and carrying a binary ``content`` fails the
    schema check with one global verdict row counting both columns."""
    from pyspark.sql import functions as F

    from raqc_spark.contract import Check, Contract
    from raqc_spark.plan import compile_plan, prepare

    _, s2, _ = snapshots
    src = s2.drop("lang").withColumn("content", F.col("content").cast("binary"))
    contract = Contract(checks=(Check("schema", "schema"),))
    [fam] = compile_plan(spark, contract, prepare(src, contract),
                         raw_schema=src.schema)
    verdicts, violations = fam.build()
    assert violations is None
    assert [tuple(r) for r in verdicts.collect()] == [
        (-1, "schema", False, 2.0, 0.0, 0, 2)
    ]


def test_resume_refuses_changed_contract(spark, snapshots, tmp_path):
    import pytest as _pytest

    from raqc_spark.contract import Check, Contract, Threshold

    rd = str(tmp_path / "run_fp")
    _run(spark, snapshots, rd)
    base = default_contract()
    changed = Contract(
        checks=tuple(
            Check(c.name, c.kind, c.column, Threshold("le", 0.9), c.params)
            if c.name == "null_rate_content" else c
            for c in base.checks
        ),
        partition_spec=base.partition_spec,
    )
    s1, s2, commits = snapshots
    with _pytest.raises(ValueError, match="different contract"):
        run_contract(spark, changed, s2, s1=s1, commits_dim=commits,
                     run_dir=rd, resume=True)


def test_run_mode_resume_preserves_checkpointed_violations(
    spark, snapshots, tmp_path
):
    """Regression (ADVICE r1, medium): resuming a partially-complete run_dir
    with granularity='run' must NOT wipe already-checkpointed families'
    violation parquet."""
    rd = str(tmp_path / "run_mix")
    _run(spark, snapshots, rd)
    uniq_dir = os.path.join(rd, "violations", "family=uniqueness_uniqueness")
    before = spark.read.parquet(uniq_dir).count()
    assert before > 0

    mpath = os.path.join(rd, "manifest.json")
    with open(mpath) as f:
        data = json.load(f)
    del data["families"]["stats"]  # simulate: stats family not checkpointed
    with open(mpath, "w") as f:
        json.dump(data, f)

    s1, s2, commits = snapshots
    res = run_contract(spark, default_contract(), s2, s1=s1,
                       commits_dim=commits, run_dir=rd, resume=True,
                       granularity="run")
    assert res.families_run == ["stats"]
    assert spark.read.parquet(uniq_dir).count() == before


def test_cache_off_verdicts_identical(spark, snapshots, tmp_path):
    """Caching is a local-mode convenience, never a correctness dependency
    (docs/SCALE.md): cache=False must produce bit-identical verdicts."""
    s1, s2, commits = snapshots
    a = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "c1"), resume=False, cache=True)
    b = run_contract(spark, default_contract(), s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "c0"), resume=False, cache=False)
    assert {tuple(r) for r in a.verdicts.collect()} == {
        tuple(r) for r in b.verdicts.collect()
    }


def test_resume_refuses_rewritten_input_files(spark, snapshots, tmp_path):
    """Same paths, new data: the fingerprint folds file sizes/mtimes, so a
    parquet snapshot rewritten IN PLACE must not silently resume against
    stale checkpointed verdicts (ADVICE r2)."""
    import pytest as _pytest

    s1, s2, commits = snapshots
    p = str(tmp_path / "s2_rw.parquet")
    s2.write.mode("overwrite").parquet(p)
    rd = str(tmp_path / "run_rw")
    df1 = spark.read.parquet(p)
    run_contract(spark, default_contract(), df1, s1=s1, commits_dim=commits,
                 run_dir=rd, resume=True)
    # rewrite in place with different data (drop some rows)
    s2.filter("lang = 'python'").write.mode("overwrite").parquet(p)
    df2 = spark.read.parquet(p)
    with _pytest.raises(ValueError, match="different contract or inputs"):
        run_contract(spark, default_contract(), df2, s1=s1,
                     commits_dim=commits, run_dir=rd, resume=True)


def test_lane_overlap_follows_cache(spark, snapshots, tmp_path, monkeypatch):
    """A lane overlaps its write and collect only over a filled cache: two
    concurrent actions over an unfilled one each compute the scan (the
    measured 229s-vs-174s double-compute mode). So overlap is exactly
    ``cache``, in both granularities, and the lanes are one per family or
    one for the whole contract."""
    import raqc_spark.runner as runner_mod

    s1, s2, commits = snapshots
    seen: list[tuple[int, bool]] = []
    real = runner_mod._run_lane

    def spy(work, run_dir, manifest, partition_batches, all_pids, overlap):
        seen.append((len(work), overlap))
        return real(work, run_dir, manifest, partition_batches, all_pids,
                    overlap)

    monkeypatch.setattr(runner_mod, "_run_lane", spy)
    for granularity in ("family", "run"):
        for cache in (False, True):
            seen.clear()
            res = run_contract(
                spark, default_contract(), s2, s1=s1, commits_dim=commits,
                run_dir=str(tmp_path / f"{granularity}_{cache}"),
                resume=False, cache=cache, granularity=granularity,
            )
            n_families = len(res.families_run)
            lanes = (
                [(n_families, cache)] if granularity == "run"
                else [(1, cache)] * n_families
            )
            assert sorted(seen) == lanes, (granularity, cache, seen)


def _codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's own codegen metric)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize(
    "kwargs, max_new",
    [
        # a tenth of the ~190 (run) and ~290 (batched4) classes a cold run
        # compiles; a cache smaller than the working set recompiles them all
        ({"granularity": "run"}, 19),
        ({"granularity": "family", "partition_batches": 4}, 29),
    ],
    ids=["run", "batched4"],
)
def test_repeat_run_reuses_generated_code(
    spark, snapshots, tmp_path, kwargs, max_new
):
    """A repeat run on identical inputs must find the first run's generated
    classes in Spark's codegen cache instead of recompiling them.

    AQE replans concurrent jobs in completion order, so a repeat run can
    hit a plan variant the first run did not; in this shared session (more
    classes than the cache holds) that variant may have been evicted. Such
    misses were 0-16 classes per run, so the check takes the better of two
    repeat runs."""
    s1, s2, commits = snapshots

    def run(name):
        before = _codegen_compiles(spark)
        run_contract(spark, default_contract(), s2, s1=s1,
                     commits_dim=commits, run_dir=str(tmp_path / name),
                     resume=False, **kwargs)
        return _codegen_compiles(spark) - before

    counts = [run(name) for name in ("first", "second", "third")]
    assert min(counts[1:]) <= max_new, counts


@pytest.mark.parametrize("granularity", ["family", "run"])
def test_resume_reruns_the_lost_batches(
    spark, snapshots, tmp_path, monkeypatch, granularity
):
    """A resume cuts the same partition batches as the fresh run and
    reruns only the lost ones: after a crash that kept partitions < 4 of a
    partition_batches=4 run, every splittable family resumes as the fresh
    run's last two chunks, {4, 5} and {6, 7}."""
    import raqc_spark.runner as runner_mod

    s1, s2, commits = snapshots
    rd = str(tmp_path / "lost")

    def run(resume):
        return run_contract(spark, default_contract(), s2, s1=s1,
                            commits_dim=commits, run_dir=rd, resume=resume,
                            granularity=granularity, partition_batches=4)

    run(False)
    _crash(rd, keep_below=4)
    chunks: dict[str, list] = {}
    real = runner_mod._chunks

    def spy(fam, pids, all_pids, partition_batches):
        out = real(fam, pids, all_pids, partition_batches)
        chunks[fam.name] = out
        return out

    monkeypatch.setattr(runner_mod, "_chunks", spy)
    res = run(True)
    assert res.partitions_resumed, res
    for name in res.partitions_resumed:
        assert chunks[name] == [{4, 5}, {6, 7}], (name, chunks[name])


def test_chunks_are_the_run_batches_left_to_do():
    """``_chunks`` cuts a splittable family's batches from all partitions
    and keeps each batch's pids still to do: {3, 5, 6, 7} of 8 partitions in
    4 batches is [{3}, {5}, {6, 7}]. Over every subset of the partitions, a
    resume never runs more chunks than ``partition_batches``, and each chunk
    lies inside one of the fresh run's chunks."""
    from itertools import combinations

    from raqc_spark.plan import CompiledFamily
    from raqc_spark.runner import _chunks

    split = CompiledFamily("f", (), lambda pids=None: None, splittable=True)
    whole = CompiledFamily("g", (), lambda pids=None: None, splittable=False)
    all_pids = frozenset(range(8))
    assert _chunks(split, frozenset({3, 5, 6, 7}), all_pids, 4) == [
        {3}, {5}, {6, 7}
    ]
    assert _chunks(split, None, all_pids, 4) == [
        {0, 1}, {2, 3}, {4, 5}, {6, 7}
    ]
    assert _chunks(split, frozenset({5}), all_pids, 1) == [{5}]
    assert _chunks(whole, frozenset({3, 5}), all_pids, 4) == [{3, 5}]
    assert _chunks(whole, None, all_pids, 4) == [None]
    for batches in range(1, 10):
        fresh = _chunks(split, all_pids, all_pids, batches)
        for k in range(1, 9):
            for todo in map(frozenset, combinations(sorted(all_pids), k)):
                out = _chunks(split, todo, all_pids, batches)
                assert len(out) <= batches
                assert frozenset().union(*out) == todo
                assert all(any(c <= f for f in fresh) for c in out)


def test_resume_reuses_generated_code(spark, snapshots, tmp_path):
    """A resume after a fresh run in the same session reruns the fresh
    run's own chunks, so it finds their generated classes in Spark's codegen
    cache. partition_batches=3 cuts 8 partitions into {0, 1, 2}, {3, 4, 5}
    and {6, 7}; a crash that kept partitions < 3 leaves the last two. A
    resume that re-cut {3..7} into three new batches ({3, 4}, {5, 6}, {7})
    compiled 66 new classes for their ``partition_id IN (...)`` literals;
    this one compiled 0. The bound leaves room for the 0-16 AQE plan-variant
    misses of ``test_repeat_run_reuses_generated_code``."""
    s1, s2, commits = snapshots
    rd = str(tmp_path / "codegen_resume")

    def run(resume):
        run_contract(spark, default_contract(), s2, s1=s1,
                     commits_dim=commits, run_dir=rd, resume=resume,
                     partition_batches=3)

    run(False)
    _crash(rd, keep_below=3)
    before = _codegen_compiles(spark)
    run(True)
    assert _codegen_compiles(spark) - before <= 16


def test_runner_actions_run_under_job_groups(spark, snapshots, tmp_path):
    """Every runner action runs under a job group naming its lane's
    families, chunk and action (``raqc:<families>:chunk<i>:write|collect``),
    the cache fill under ``raqc:cache_fill``, and the caller's own group is
    restored afterwards."""
    from raqc_spark.plan import compile_plan, prepare

    s1, s2, commits = snapshots
    c = default_contract()
    families = compile_plan(spark, c, prepare(s2, c), prepare(s1, c), commits,
                            raw_schema=s2.schema)
    groups = ["raqc:cache_fill", "raqc:stats:chunk0:write",
              "raqc:stats:chunk1:write"] + [
        f"raqc:{f.name}:chunk{i}:collect"
        for f in families
        for i in range(2 if f.splittable else 1)
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    sc.setJobGroup("caller", "caller's group")
    try:
        run_contract(spark, c, s2, s1=s1, commits_dim=commits,
                     run_dir=str(tmp_path / "groups"), resume=False,
                     partition_batches=2)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setJobGroup(None, None)
    missing = [
        g for g in groups if not set(tracker.getJobIdsForGroup(g)) - before[g]
    ]
    assert not missing, missing
