"""Per-layer tracing for the traced run, all from the benchmark's own code.

Two sources:

- ``instrument`` wraps the engine's layer entry points for the duration of a
  ``with`` block and sums time and calls per layer: ``plan.prepare``,
  ``plan.compile_plan`` and, from ``raqc_spark.runner`` only, its violation
  writes, verdict collects, cache-filling count and manifest commits;
- ``spark_metrics`` reads the Spark event log the traced session wrote and
  sums jobs, stages and task metrics over a wall-clock window.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

RUNNER = "raqc_spark.runner"


class LayerTrace:
    """Thread-safe per-key totals of seconds and calls (family mode runs the
    runner's actions from a thread pool)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def add(self, key: str, dt: float) -> None:
        with self._lock:
            self.seconds[key] += dt
            self.calls[key] += 1

    def take(self) -> tuple[dict[str, float], dict[str, int]]:
        """Return the totals so far and start again from zero."""
        with self._lock:
            out = dict(self.seconds), dict(self.calls)
            self.seconds.clear()
            self.calls.clear()
        return out


def _timed(trace: LayerTrace, key: str, fn, only_from: str | None = None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if only_from and sys._getframe(1).f_globals.get("__name__") != only_from:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            trace.add(key, time.perf_counter() - t0)

    return wrapper


@contextmanager
def instrument(trace: LayerTrace, dataframe_cls):
    """Wrap the layer entry points; ``dataframe_cls`` is the class of a live
    DataFrame (PySpark 4 splits the public class from the classic one)."""
    import raqc_spark.runner as runner

    targets = [
        (runner, "prepare", "plan.prepare", None),
        (runner, "compile_plan", "plan.compile_plan", None),
        (runner, "_write_violations", "runner.write", None),
        (runner.Manifest, "record", "runner.manifest_commit", None),
        (dataframe_cls, "collect", "runner.collect", RUNNER),
        (dataframe_cls, "count", "runner.cache_fill", RUNNER),
    ]
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in targets]
    try:
        for owner, attr, key, only_from in targets:
            setattr(owner, attr, _timed(trace, key, getattr(owner, attr), only_from))
        yield trace
    finally:
        for owner, attr, original in saved:
            setattr(owner, attr, original)


def layer_metrics(seconds: dict[str, float], calls: dict[str, int]) -> dict:
    """The plan and runner per-layer metrics of one traced phase."""
    return {
        "plan.prepare_s": seconds.get("plan.prepare", 0.0),
        "plan.compile_plan_s": seconds.get("plan.compile_plan", 0.0),
        "runner.cache_fill_s": seconds.get("runner.cache_fill", 0.0),
        "runner.actions": calls.get("runner.write", 0) + calls.get("runner.collect", 0),
        "runner.write_s": seconds.get("runner.write", 0.0),
        "runner.collect_s": seconds.get("runner.collect", 0.0),
        "runner.manifest_commits": calls.get("runner.manifest_commit", 0),
        "runner.manifest_commit_s": seconds.get("runner.manifest_commit", 0.0),
    }


# ---------------------------------------------------------------- event log

_SQL = "org.apache.spark.sql.execution.ui."


def event_log_events(log_dir: str) -> list[dict]:
    """Events of the one application that logged to ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _scan_size_accums(plan: dict, out: set) -> None:
    """Accumulator ids of 'size of files read' on parquet scan nodes."""
    if plan.get("nodeName", "").startswith("Scan parquet"):
        for m in plan.get("metrics", []):
            if m.get("name") == "size of files read":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_size_accums(child, out)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spark_metrics(events: list[dict], t0: float, t1: float, cores: int,
                  fixture_bytes: int) -> dict:
    """Spark-level metrics of the work started within [t0, t1] (epoch s)."""
    lo, hi = t0 * 1000, t1 * 1000

    def inside(ms) -> bool:
        return ms is not None and lo <= ms <= hi

    jobs: dict[int, list] = {}
    stages = tasks = failed = 0
    run_ms = cpu_ns = gc_ms = 0
    shuffle_read = shuffle_write = spill = output = 0
    scan_accums: set = set()
    executions: set = set()
    scan_bytes = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and inside(e.get("Submission Time")):
            jobs[e["Job ID"]] = [e["Submission Time"], hi]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = min(e["Completion Time"], hi)
        elif kind == "SparkListenerStageCompleted":
            if inside(e["Stage Info"].get("Submission Time")):
                stages += 1
        elif kind == "SparkListenerTaskEnd" and inside(e["Task Info"]["Launch Time"]):
            tasks += 1
            failed += bool(e["Task Info"].get("Failed"))
            m = e.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            output += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind.endswith("ExecutionStart") and inside(e.get("time")):
                executions.add(e["executionId"])
            _scan_size_accums(e.get("sparkPlanInfo", {}), scan_accums)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            if e["executionId"] in executions:
                scan_bytes += sum(v for k, v in e["accumUpdates"] if k in scan_accums)
    wall = t1 - t0
    run_s = run_ms / 1000
    mb = 1024.0**2
    return {
        "spark.jobs": len(jobs),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.task_fail_frac": failed / tasks if tasks else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_read_mb": shuffle_read / mb,
        "spark.shuffle_write_mb": shuffle_write / mb,
        "spark.spill_mb": spill / mb,
        "spark.output_mb": output / mb,
        "spark.busy_frac": run_s / (wall * cores),
        "spark.driver_gap_s": wall - _union_seconds(
            [(a / 1000, b / 1000) for a, b in jobs.values()]
        ),
        "runner.scan_read_amp": scan_bytes / fixture_bytes,
    }


# ------------------------------------------------------ per-family isolation

FAMILY_METRIC = {
    "schema": "checks.schema_s",
    "stats": "checks.stats_s",
    "uniqueness": "checks.uniqueness_s",
    "ref": "checks.ref_s",
    "hist": "checks.hist_s",
    "drift": "checks.drift_s",
}


def isolate_families(spark, inputs: tuple) -> dict[str, float]:
    """Build each family of ``compile_plan`` over the cached prepared
    snapshot, as the runner does, and force it alone: verdict collect plus
    violations to a ``noop`` sink. Cache fill is untimed."""
    from raqc_spark.contract import default_contract
    from raqc_spark.plan import compile_plan, prepare

    s2, s1, commits = inputs
    c = default_contract()
    drift_cols = sorted(
        {k.column for k in c.checks if k.kind in ("drift_psi", "drift_ks") and k.column}
    )
    s2p = prepare(s2, c).persist()
    s1p = prepare(s1, c).select("partition_id", *drift_cols).persist()
    pool: list = []
    out: dict[str, float] = defaultdict(float)
    try:
        s2p.count()
        s1p.count()
        for fam in compile_plan(spark, c, s2p, s1p, commits, raw_schema=s2.schema,
                                pool=pool):
            t0 = time.perf_counter()
            verdicts, violations = fam.build(None)
            verdicts.collect()
            if violations is not None:
                violations.write.format("noop").mode("overwrite").save()
            out[FAMILY_METRIC[fam.name.split(":")[0]]] += time.perf_counter() - t0
    finally:
        for df in (s2p, s1p, *pool):
            df.unpersist()
    return dict(out)
