"""SparkSession factory with the engine's standard configuration.

Local-mode defaults are tuned for the sandbox (single JVM); on a real
cluster the same builder is used minus the master override, and
spark-submit supplies executor topology (SURVEY.md §3.2 entry point 3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-standard conf. AQE on: runtime coalescing + skew-join splitting are
# load-bearing at 10^12-file scale (BASELINE.json:6 "AQE-assisted skew-join").
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local mode: shuffle partitions ~ cores, not the 200 default
    "spark.sql.shuffle.partitions": "32",
    # Split scans finer than the 128 MB default: the bench fixtures are
    # single ~0.7 GB parquet files -> only ~6 splits, and a persisted
    # DataFrame INHERITS scan partitioning, capping every post-cache stage
    # at 6-way parallelism (measured: local[8] ran scans 75% utilized).
    # 32 MB gives full utilization at local-mode core counts; a real
    # multi-executor deployment with many input files should leave the
    # 128 MB default (override through get_spark's extra_conf).
    "spark.sql.files.maxPartitionBytes": "33554432",
    "spark.ui.enabled": "false",
    # Whole-stage-codegen class cache (static conf, default 100). One JVM
    # running the contract in both granularities, fresh and resumed, needs
    # ~550 distinct generated classes: batched mode inlines each chunk's
    # `partition_id IN (...)` literals, so every chunk compiles its own
    # classes (a resume reruns the fresh run's chunks, so it reuses them).
    # At 100 the cache evicted
    # them between passes and every pass recompiled from scratch (measured
    # at local[4] on the 20k-file fixture: ~590 Janino compiles per
    # batched4 pass and ~190 per run-mode pass, ~28 ms each, and the JIT
    # then recompiles each reloaded class). At 1024, about twice the
    # working set, repeat passes compile 0-16 classes and the batched4 wall
    # drops to 0.82x. Classes average 2.7 KB of bytecode, so a full cache
    # costs a few MB of metaspace.
    "spark.sql.codegen.cache.maxEntries": "1024",
    # local mode: the driver heap is the only executor memory. Undersizing it
    # turns the 1 MB-content outlier rows into G1 old-gen churn — measured as
    # identical runs burning 2x CPU in GC. 48g on the 128 GiB sandbox host.
    # Override through get_spark's extra_conf.
    "spark.driver.memory": "48g",
}


def get_spark(
    app_name: str = "raqc_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (or all cores). Pass an explicit master for scaling benchmarks
    (``local[8]`` vs ``local[32]``, SURVEY.md §0.3).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if master.startswith("local"):
        # Cap G1's GC worker threads in local mode. On an H-core host the
        # JVM defaults to ~5/8·H ParallelGCThreads (23 at H=32); with
        # local[H] every hw thread already runs a task thread, so GC
        # workers oversubscribe the host and the contract THRASHES —
        # measured interleaved A/B on the 663k-row fixture at local[32]:
        # default 10.95/11.48s vs ParallelGCThreads=8 6.09s (1.8x), with
        # 4/8/16 reading 7.22/8.08/9.46 and the default worst. Sized
        # host//4 capped to [4, 8]; caller extraJavaOptions come after
        # these flags, so a caller -XX:ParallelGCThreads wins (cluster
        # deployments configure executor JVMs via spark-submit instead).
        host = os.cpu_count() or 8
        gc_threads = max(4, min(8, host // 4))
        # JIT thresholds x4 (CompileThresholdScaling). In local mode the
        # JIT's compiler threads share the cores with the task threads, and
        # a young JVM's first contract pass makes ~32k JIT compiles, mostly
        # of Spark, Scala and JDK code (PrintCompilation, local[4]): at the
        # default thresholds the C2 queue overflows, and how far the warm-up
        # got decides how fast the next pass runs. Measured at local[4] on
        # the 20k-file perfbench fixture, batched4 second pass, 8 JVMs each:
        # default 12.79 s median (quartiles 12.27-13.78, one 17.34), x4
        # 11.11 s (10.98-12.00); JIT time 28.2-41.5 -> 18.9-22.0 s. The
        # run-mode third pass reads about the same (4 JVMs each: 6.96 vs
        # 7.20 s median). Per-row code crosses even the scaled thresholds
        # within its first partition, so long runs still reach C2.
        conf["spark.driver.extraJavaOptions"] = (
            f"-XX:ParallelGCThreads={gc_threads}"
            f" -XX:ConcGCThreads={max(1, gc_threads // 4)}"
            " -XX:CompileThresholdScaling=4"
        )
    if extra_conf:
        # Compose caller extraJavaOptions with the GC cap instead of letting
        # them clobber it (ADVICE r6: a wholesale replace silently dropped
        # the measured 1.8x GC fix). Caller flags come last, so an explicit
        # caller -XX:ParallelGCThreads still wins (JVM last-wins).
        gc_opts = conf.get("spark.driver.extraJavaOptions")
        caller_opts = extra_conf.get("spark.driver.extraJavaOptions")
        conf.update(extra_conf)
        if gc_opts and caller_opts:
            conf["spark.driver.extraJavaOptions"] = f"{gc_opts} {caller_opts}"
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
