"""The contract workloads: seeded fixture, one timed operation, output checks.

One operation is a fresh ``run_contract`` over the seeded code-table fixture,
then a simulated crash between batch commits, then the ``resume=True`` run
that finishes the contract. The two workloads differ only in the runner's
granularity:

- ``contract_run``: ``granularity="run"``, the whole contract as two
  overlapped actions over the cached snapshot (the paper's throughput mode);
- ``contract_batched4``: ``granularity="family", partition_batches=4``, a
  write and a collect per family and partition batch, each followed by a
  manifest commit.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass

from perfbench import host

WORKLOADS: dict[str, dict] = {
    "contract_run": {"granularity": "run", "partition_batches": 1},
    "contract_batched4": {"granularity": "family", "partition_batches": 4},
}
# Untimed operations (fresh run, crash, resume) after the cold pass, so the
# JIT settles before timing. Measured in one JVM at local[4], run-mode fresh
# passes read 13.6, 6.6, 6.4, 6.3, 5.4, 5.1 s, and ten runs timing the 2nd
# pass spread 0.22 (quartiles over median). The batched 2nd pass and first
# resume spread only 0.10, and a batched operation costs twice as much.
SETTLE_OPS = {"contract_run": 1, "contract_batched4": 0}
# 20k s1 files, ~22k s2 rows. At local[4] a pass is mostly the engine's fixed
# per-job cost (measured run-mode warm pass: 7.1 s at 20k files, 8.5 s at
# 50k), so a larger fixture buys little signal for the time each run may take.
FIXTURE_FILES = 20_000
N_REPOS = 64
# The simulated crash keeps the manifest entries of partitions below this id:
# with 8 partitions in 4 batches, that is the first two batches of each
# splittable family, so the resume recomputes the other half.
KEPT_PARTITIONS = 4
# check name -> golden key set of fixtures.generate (independent pandas oracle)
CHECK_GOLDEN = {
    "uniqueness": "uniqueness",
    "null_rate_content": "null_content",
    "null_rate_lang": "null_lang",
    "empty_content": "empty_content",
    "bounds_content_length": "length_outlier",
    "ref_integrity": "ref_integrity",
}
KEY_COLS = ("repo", "path", "commit", "content_sha")
FIXTURE_TABLES = ("code_files_s2", "code_files_s1", "commits")


@dataclass
class Fixture:
    root: str
    rows: int  # s2 rows: the rows a contract pass validates
    bytes: int  # parquet bytes of all three tables
    golden: dict[str, set]
    gen_s: float  # time spent generating it in this process (0 if cached)


def fixture(cache_dir: str, n_files: int, seed: int) -> Fixture:
    """Generate-once cache of the seeded fixture plus its golden key sets."""
    root = os.path.join(cache_dir, f"code_{n_files}_seed{seed}")
    gen_s = 0.0
    if not os.path.exists(os.path.join(root, "golden.json")):
        from fixtures.generate import generate, write_fixture

        t0 = time.perf_counter()
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fx = generate(n_files=n_files, n_repos=N_REPOS, seed=seed)
        write_fixture(fx, tmp)
        golden = {k: sorted(map(list, v)) for k, v in fx.golden.items()}
        with open(os.path.join(tmp, "golden.json"), "w") as f:
            json.dump({"rows": len(fx.s2), "golden": golden}, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
        gen_s = time.perf_counter() - t0
    with open(os.path.join(root, "golden.json")) as f:
        doc = json.load(f)
    size = sum(
        os.path.getsize(os.path.join(root, f"{t}.parquet")) for t in FIXTURE_TABLES
    )
    golden = {k: set(map(tuple, v)) for k, v in doc["golden"].items()}
    return Fixture(root, doc["rows"], size, golden, gen_s)


def load_inputs(spark, fx: Fixture) -> tuple:
    """(s2, s1, commits) DataFrames over the fixture's parquet files."""
    return tuple(
        spark.read.parquet(os.path.join(fx.root, f"{t}.parquet"))
        for t in FIXTURE_TABLES
    )


def splittable_families(spark, inputs: tuple) -> list[str]:
    """Names of the families a resume may finish partition by partition
    (compile_plan is lazy: this builds plans and runs no Spark job)."""
    from raqc_spark.contract import default_contract
    from raqc_spark.plan import compile_plan, prepare

    s2, s1, commits = inputs
    c = default_contract()
    fams = compile_plan(
        spark, c, prepare(s2, c), prepare(s1, c), commits, raw_schema=s2.schema
    )
    return [f.name for f in fams if f.splittable]


def run_contract_once(spark, inputs: tuple, run_dir: str, mode: str, resume: bool):
    """One ``run_contract`` call plus the verdict collect the caller needs."""
    from raqc_spark.contract import default_contract
    from raqc_spark.runner import run_contract

    s2, s1, commits = inputs
    res = run_contract(
        spark, default_contract(), s2, s1=s1, commits_dim=commits,
        run_dir=run_dir, resume=resume, **WORKLOADS[mode],
    )
    return res, [r.asDict() for r in res.verdicts.collect()]


def simulate_crash(run_dir: str, families: list[str]) -> None:
    """Rewrite the manifest as a crash between batch commits leaves it: each
    splittable family keeps only partitions < KEPT_PARTITIONS and is marked
    incomplete. The violation sinks keep every partition, as they would."""
    path = os.path.join(run_dir, "manifest.json")
    with open(path) as f:
        data = json.load(f)
    for name in families:
        fam = data["families"][name]
        fam["verdicts"] = [
            r for r in fam["verdicts"] if r["partition_id"] < KEPT_PARTITIONS
        ]
        fam["complete"] = False
    with open(path + ".tmp", "w") as f:
        json.dump(data, f, sort_keys=True)
    os.replace(path + ".tmp", path)


def verdict_key(rows: list[dict]) -> list[tuple]:
    return sorted(
        (r["partition_id"], r["check_name"], r["pass"], r["n_rows"],
         r["n_violations"], r["threshold"], r["metric_value"])
        for r in rows
    )


def same_verdicts(a: list[dict], b: list[dict]) -> bool:
    """Equal verdict sets; metric values compared to 1e-9 relative, since a
    different action split may sum doubles in another order."""
    ka, kb = verdict_key(a), verdict_key(b)
    if len(ka) != len(kb):
        return False
    for x, y in zip(ka, kb, strict=True):
        if x[:6] != y[:6]:
            return False
        if (x[6] is None) != (y[6] is None) or (
            x[6] is not None and not math.isclose(x[6], y[6], rel_tol=1e-9)
        ):
            return False
    return True


def check_outputs(run_dir: str, verdicts: list[dict], fx: Fixture) -> list[str]:
    """Failures of the run's outputs against the fixture; empty if correct.

    The violation sink is read with pyarrow, not Spark, so the check shares
    no code with the engine and adds no Spark job.

    - per check, the sink's distinct (repo, path, commit, content_sha) set
      equals the pandas golden set (sets, not counts: a duplicate group
      puts every member row in the sink);
    - per check, the summed verdict ``n_violations`` equals its sink rows.
    """
    import pyarrow.dataset as ds

    sink = ds.dataset(
        os.path.join(run_dir, "violations"), format="parquet", partitioning="hive"
    ).to_table(columns=["check_name", *KEY_COLS]).to_pylist()
    sink_rows: dict[str, int] = defaultdict(int)
    got: dict[str, set] = defaultdict(set)
    for r in sink:
        sink_rows[r["check_name"]] += 1
        got[r["check_name"]].add(tuple(r[c] for c in KEY_COLS))
    failures = []
    for check, gname in CHECK_GOLDEN.items():
        want = fx.golden[gname]
        if got[check] != want:
            failures.append(
                f"{check}: sink has {len(got[check])} distinct keys, golden "
                f"{gname} has {len(want)}, {len(got[check] ^ want)} differ"
            )
    n_viol: dict[str, int] = defaultdict(int)
    for r in verdicts:
        n_viol[r["check_name"]] += r["n_violations"]
    for check in sorted(set(n_viol) | set(sink_rows)):
        if n_viol[check] != sink_rows[check]:
            failures.append(
                f"{check}: verdicts count {n_viol[check]} violations, "
                f"sink holds {sink_rows[check]} rows"
            )
    return failures


def collect_heap(spark) -> None:
    """Full GC, so each timed run starts from a collected heap, as JMH does
    between iterations: the 48g default heap otherwise carries the previous
    run's garbage into a G1 resize at a random point of the next one."""
    spark.sparkContext._jvm.System.gc()


def operation(spark, inputs, fx: Fixture, mode: str, run_dir: str,
              families: list[str], on_phase=None, resume: bool = True) -> dict:
    """Fresh run, then (``resume``) simulated crash and resume; timed, then
    checked (untimed). The warm-up passes ``resume=False``.

    ``on_phase(name, t0_epoch, t1_epoch)`` is told the wall window of the
    fresh and resume runs; what it returns is kept as ``<name>_trace``."""
    from raqc_spark.contract import default_contract

    shutil.rmtree(run_dir, ignore_errors=True)
    rec: dict = {"load_before": host.load_sample()}
    collect_heap(spark)
    cpu0 = host.tree_cpu_seconds()
    e0, t0 = time.time(), time.perf_counter()
    _, fresh = run_contract_once(spark, inputs, run_dir, mode, resume=False)
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = host.tree_cpu_seconds() - cpu0
    if on_phase:
        rec["fresh_trace"] = on_phase("fresh", e0, time.time())
    rec["load_after_fresh"] = host.load_sample()
    rec["verdicts"] = fresh
    if not resume:
        rec["failures"] = check_outputs(run_dir, fresh, fx)
        return rec

    simulate_crash(run_dir, families)
    collect_heap(spark)
    e0, t0 = time.time(), time.perf_counter()
    res, resumed = run_contract_once(spark, inputs, run_dir, mode, resume=True)
    rec["resume_s"] = time.perf_counter() - t0
    if on_phase:
        rec["resume_trace"] = on_phase("resume", e0, time.time())
    rec["load_after"] = host.load_sample()
    rec["resume_partitions"] = sum(len(p) for p in res.partitions_resumed.values())

    failures = check_outputs(run_dir, resumed, fx)
    n_parts = default_contract().partition_spec.num_partitions
    want = len(families) * (n_parts - KEPT_PARTITIONS)
    if rec["resume_partitions"] != want:
        failures.append(
            f"resume recomputed {rec['resume_partitions']} partitions, expected {want}"
        )
    if not same_verdicts(fresh, resumed):
        failures.append("resumed verdicts differ from the fresh run's")
    rec["failures"] = failures
    return rec
