"""Engine session defaults: the conf and JVM flags get_spark gives a local
session. They are plain conf (no env switches); callers override them
through ``get_spark(extra_conf=…)``."""

from __future__ import annotations

import os

from raqc_spark.session import ENGINE_CONF


def test_local_session_defaults(spark):
    conf = spark.sparkContext.getConf()
    assert ENGINE_CONF["spark.driver.memory"] == "48g"
    # the test session overrides the heap through extra_conf
    assert conf.get("spark.driver.memory") == "6g"
    assert conf.get("spark.sql.files.maxPartitionBytes") == "33554432"
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    # the test session's extra_conf overrides the engine default of 32
    assert conf.get("spark.sql.shuffle.partitions") == "8"

    gc = max(4, min(8, (os.cpu_count() or 8) // 4))
    flags = [
        f"-XX:ParallelGCThreads={gc}",
        f"-XX:ConcGCThreads={max(1, gc // 4)}",
        "-XX:CompileThresholdScaling=4",
    ]
    opts = conf.get("spark.driver.extraJavaOptions").split()
    assert opts[-len(flags):] == flags
    # and the driver JVM really started with them
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    jvm_args = list(mx.getInputArguments())
    assert "-Xmx6g" in jvm_args
    assert all(f in jvm_args for f in flags), jvm_args
