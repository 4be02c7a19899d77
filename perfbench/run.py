"""Engine benchmark: one workload, one seed, one JSON line on stdout.

    python3 perfbench/run.py --workload contract_run --seed 1 --seconds 10 --trace 0

Run from the repository root (any directory works: paths resolve from this
file). Load is one process and one closed-loop client on ``local[nproc]``:
each timed operation starts after the previous one ends, and operations run
until ``--seconds`` have passed (at least one). The session uses the
engine's own ``get_spark`` defaults; the benchmark adds only the master and,
with ``--trace 1``, the event-log settings.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics. The full record (quartiles, sample counts, per-pass
load, effective environment, check failures) goes to
``.perfbench/results/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import host, trace, workload  # noqa: E402  (needs ROOT on the path)


def summarize(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


class Run:
    """State of one benchmark invocation: its session, fixture and tallies."""

    def __init__(self, args, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.mode = args.workload
        self.fx = workload.fixture(os.path.join(STATE, "fixtures"), args.files, args.seed)
        self.run_dir = os.path.join(STATE, "runs", f"{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.spark = None

    def start_session(self, extra_conf: dict | None = None) -> float:
        from raqc_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{host.NPROC}]", extra_conf=extra_conf)
        dt = time.perf_counter() - t0
        self.inputs = workload.load_inputs(self.spark, self.fx)
        self.families = workload.splittable_families(self.spark, self.inputs)
        return dt

    def operation(self, label: str, on_phase=None, resume: bool = True) -> dict | None:
        """One operation; an exception or a failed check counts as failed."""
        self.attempted += 1
        gate = host.wait_for_quiet()
        try:
            rec = workload.operation(
                self.spark, self.inputs, self.fx, self.mode, self.run_dir,
                self.families, on_phase=on_phase, resume=resume,
            )
        except Exception:  # keep measuring; the failure is counted and shown
            traceback.print_exc(file=sys.stderr)
            self.fail(label, [f"raised {sys.exc_info()[1]!r}"[:500]])
            return None
        rec.update(label=label, gate=gate)
        self.fail(label, rec["failures"])
        self.ops.append(rec)
        return rec

    def fail(self, label: str, failures: list[str]) -> None:
        if failures:
            self.failed += 1
            self.failures.extend(f"{label}: {f}" for f in failures)

    def timed_ops(self, label: str, on_phase=None) -> list[dict]:
        """Operations until --seconds have passed, at least one attempted."""
        out: list[dict] = []
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < self.args.seconds:
            rec = self.operation(f"{label}{n}", on_phase)
            n += 1
            if rec is not None:
                out.append(rec)
        return out

    def cross_check(self) -> None:
        """The other granularity must give the same verdicts and sinks."""
        other = next(m for m in workload.WORKLOADS if m != self.mode)
        self.attempted += 1
        run_dir = self.run_dir + "-cross"
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            _, verdicts = workload.run_contract_once(
                self.spark, self.inputs, run_dir, other, resume=False
            )
            failures = workload.check_outputs(run_dir, verdicts, self.fx)
            if not workload.same_verdicts(verdicts, self.ops[-1]["verdicts"]):
                failures.append(f"{other} verdicts differ from {self.mode}'s")
        except Exception:  # counted like a failed operation
            traceback.print_exc(file=sys.stderr)
            failures = [f"raised {sys.exc_info()[1]!r}"[:500]]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        self.fail(f"cross-{other}", failures)

    def warm_up(self) -> float:
        """Cold pass, then the JIT-settling operations; returns ``setup_s``:
        process start to the end of the cold pass, fixture generation
        excluded."""
        self.operation("warmup", resume=False)
        setup_s = time.time() - self.t_start - self.fx.gen_s
        for i in range(workload.SETTLE_OPS[self.mode]):
            self.operation(f"settle{i}")
        return setup_s

    def untraced(self) -> dict[str, list[float]]:
        self.start_session()
        setup_s = self.warm_up()
        ops = self.timed_ops("pass")
        self.jvm_peak_rss_mb = host.peak_rss_mb(host.jvm_pid())
        self.environment = host.effective_environment(self.spark, ROOT)
        return {
            "setup_s": [setup_s],
            "wall_s": [r["wall_s"] for r in ops],
            "resume_s": [r["resume_s"] for r in ops],
            "rows_per_s": [self.fx.rows / r["wall_s"] for r in ops],
            "cpu_s": [r["cpu_s"] for r in ops],
        }

    def traced(self) -> dict[str, list[float]]:
        """Plain session (warm-up, untraced passes), then a session with the
        event log on and the layer wrappers installed (traced passes)."""
        get_spark_s = self.start_session()
        jvm = host.jvm_pid()
        self.warm_up()
        plain = self.timed_ops("plain")
        self.spark.stop()

        log_dir = os.path.join(STATE, "eventlog", f"{os.getpid()}")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        self.start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # one plain JSON-lines file (Spark 4 defaults to rolling zstd)
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        self.environment = host.effective_environment(self.spark, ROOT)
        layers = trace.LayerTrace()

        def on_phase(phase: str, t0: float, t1: float) -> dict:
            seconds, calls = layers.take()
            return {"window": (t0, t1), **trace.layer_metrics(seconds, calls)}

        with trace.instrument(layers, type(self.inputs[0])):
            traced_ops = self.timed_ops("traced", on_phase)
        checks = trace.isolate_families(self.spark, self.inputs)
        self.cross_check()
        self.jvm_peak_rss_mb = host.peak_rss_mb(jvm)
        self.spark.stop()
        events = trace.event_log_events(log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)

        samples: dict[str, list[float]] = {}
        for rec in traced_ops:
            row = dict(rec["fresh_trace"])
            row.update(trace.spark_metrics(
                events, *row.pop("window"), cores=host.NPROC,
                fixture_bytes=self.fx.bytes,
            ))
            row["runner.resume_partitions"] = rec["resume_partitions"]
            for k, v in row.items():
                samples.setdefault(k, []).append(v)
        for k, v in checks.items():
            samples[k] = [v]
        samples["session.get_spark_s"] = [get_spark_s]
        samples["session.jvm_peak_rss_mb"] = [self.jvm_peak_rss_mb]
        overhead = statistics.median(r["wall_s"] for r in traced_ops) / statistics.median(
            r["wall_s"] for r in plain
        ) - 1
        samples["trace.overhead_frac"] = [overhead]
        return samples


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait until it and the processes
    it started have exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = host.process_tree()[1:]
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    host.wait_for_exit(children, timeout=30)


def main(t_start: float, argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workload.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=workload.FIXTURE_FILES,
                    help="fixture size in s1 files (smaller for smoke tests)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    # Python workers import the engine from the checkout; scratch stays in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")

    run = Run(args, t_start)
    try:
        samples = run.traced() if args.trace else run.untraced()
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    if set(samples) != set(declared):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {set(declared) - set(samples)}, "
            f"undeclared {set(samples) - set(declared)}"
        )
    stats = {k: summarize(v) for k, v in samples.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "fixture": {"files": args.files, "rows": run.fx.rows, "bytes": run.fx.bytes,
                    "generated_s": run.fx.gen_s},
        "environment": run.environment,
        "jvm_peak_rss_mb": run.jvm_peak_rss_mb,
        "attempted": run.attempted,
        "failed": run.failed,
        "failed_frac": run.failed / run.attempted,
        "failures": run.failures,
        "metrics": {k: {"unit": declared[k], **stats[k]} for k in sorted(stats)},
        "ops": [{k: v for k, v in r.items() if k != "verdicts"} for r in run.ops],
    }
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for line in run.failures:
        print(f"FAILED {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": stats[k]["median"], "unit": declared[k]} for k in declared
        },
    }))
    return 0


if __name__ == "__main__":
    if not (os.path.isdir(os.path.join(ROOT, "raqc_spark"))
            and os.path.isdir(os.path.join(ROOT, "fixtures"))):
        print(f"perfbench: no engine sources (raqc_spark/, fixtures/) under {ROOT}",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main(host.process_start_epoch()))
