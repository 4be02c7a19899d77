#!/usr/bin/env python
"""spark-submit entry point (BASELINE.json:14 launch path).

    spark-submit --py-files raqc_spark.zip run_validation.py \
        --table /data/code_files --snapshot1 s1 --snapshot2 s2 \
        --commits /data/commits.parquet --run-dir /runs/2024-06-01 \
        [--partitions 256] [--no-resume]

On a real cluster spark-submit supplies executor topology (N vs 4N
executors); in the sandbox the same script runs under local[N]. Exit code 0
iff every (partition, check) verdict passes.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys

from pyspark.sql import SparkSession

from raqc_spark.contract import Contract, default_contract
from raqc_spark.runner import run_contract
from raqc_spark.session import ENGINE_CONF
from raqc_spark.sources.table_adapter import ParquetSnapshotAdapter


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="snapshot-table root dir")
    ap.add_argument("--snapshot1", required=True)
    ap.add_argument("--snapshot2", required=True)
    ap.add_argument("--commits", required=True, help="commits dim parquet")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--contract", default=None,
                    help="YAML contract file (default: built-in contract)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="override the contract's partition count")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None, help="override (local runs only)")
    args = ap.parse_args(argv)

    builder = SparkSession.builder.appName("raqc_validation")
    if args.master:
        builder = builder.master(args.master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    base = Contract.from_yaml(args.contract) if args.contract else default_contract()
    spec = base.partition_spec
    if args.partitions is not None:
        spec = dataclasses.replace(spec, num_partitions=args.partitions)
    contract = dataclasses.replace(base, partition_spec=spec)

    adapter = ParquetSnapshotAdapter(args.table)
    s1 = adapter.load_snapshot(spark, args.snapshot1)
    s2 = adapter.load_snapshot(spark, args.snapshot2)
    commits = spark.read.parquet(args.commits)

    result = run_contract(
        spark, contract, s2, s1=s1, commits_dim=commits,
        run_dir=args.run_dir, resume=not args.no_resume,
    )
    verdicts = [r.asDict() for r in result.verdicts.collect()]
    n_fail = sum(1 for r in verdicts if not r["pass"])
    print(json.dumps({
        "run_dir": result.run_dir,
        "families_run": result.families_run,
        "families_skipped": result.families_skipped,
        "n_verdicts": len(verdicts),
        "n_failing": n_fail,
        "partition_spec": dataclasses.asdict(contract.partition_spec),
    }))
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
