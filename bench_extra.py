"""Per-query measurement harness next to bench.py: plan dumps and
count-vs-noop timing of named registry queries at any SF dir.

Usage:
  python bench_extra.py plans  [out_suffix] [sf_dir] [q1 q2 ... | all]
  python bench_extra.py time   [sf_dir]     [q1 q2 ... | all]

Queries default to bench.py's headline set; ``all`` takes every registry
entry. `plans` writes plans/r07/<query>_<suffix>.txt with
explain("formatted"). `time` prints one JSON line: {"sf_dir":...,
"total_s": s, "queries": {name: {"build": s, "count": s, "noop": s,
"procs": [before, after]}}}, best-of-3 like bench.py. ``build`` times the
query function call apart from the action (the driver's parquet footer
reads and analysis; best of all six builds); ``count`` and ``noop`` time
the action alone on the built DataFrame (optimization, planning and the
run). ``procs`` samples /proc/stat procs_running before and after each
query's reps: the timing records the host's load instead of waiting for
it to drop.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE, _procs_running  # noqa: E402


def _spark():
    from raqc_spark.session import get_spark

    return get_spark("raqc_bench_extra")


def _names(args: list[str], queries: dict) -> list[str]:
    if args == ["all"]:
        return list(queries)
    return args or HEADLINE


def dump_plans(suffix: str, sf_dir: str, args: list[str]) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    queries = entry.queries()
    out_dir = os.path.join(REPO, "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)
    for name in _names(args, queries):
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


def _best(spark, q, sf_dir: str, act, reps: int) -> tuple[float, float]:
    """Best-of-``reps`` (build, action) seconds: ``q(spark, sf_dir)`` timed
    apart from ``act`` on the DataFrame it returns."""
    build = run = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df = q(spark, sf_dir)
        t1 = time.perf_counter()
        act(df)
        build, run = min(build, t1 - t0), min(run, time.perf_counter() - t1)
    return build, run


def time_queries(sf_dir: str, args: list[str], reps: int = 3) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    queries = entry.queries()
    # same warmup as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, dict] = {}
    t_all = time.perf_counter()
    for name in _names(args, queries):
        q = queries[name]
        spark.sparkContext.setJobDescription(f"bench_extra {name}")
        p0 = _procs_running()
        build_c, best_c = _best(spark, q, sf_dir, lambda df: df.count(), reps)
        build_n, best_n = _best(
            spark, q, sf_dir,
            lambda df: df.write.format("noop").mode("overwrite").save(), reps,
        )
        build = min(build_c, build_n)
        out[name] = {"build": round(build, 3), "count": round(best_c, 3),
                     "noop": round(best_n, 3),
                     "procs": [p0, _procs_running()]}
        print(f"# {name}: build={build:.3f}s count={best_c:.3f}s "
              f"noop={best_n:.3f}s", file=sys.stderr)
    total = round(time.perf_counter() - t_all, 3)
    print(json.dumps({"sf_dir": sf_dir, "total_s": total, "queries": out}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        dump_plans(suffix, sf_dir, sys.argv[4:])
    else:
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        time_queries(sf_dir, sys.argv[3:])
