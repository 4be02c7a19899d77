from __future__ import annotations

import pytest

from fixtures.generate import generate, write_fixture
from raqc_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a 6g heap, not the engine's 48g default: at 48g the suite's JVM grew
    # to ~11 GB RSS on a 15 GB host and was once lost mid-suite
    s = get_spark(
        "raqc_spark_tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.memory": "6g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def code_fixture(tmp_path_factory):
    fx = generate(n_files=4_000, n_repos=16, seed=42)
    root = tmp_path_factory.mktemp("code_table")
    write_fixture(fx, str(root))
    return fx, str(root)


@pytest.fixture(scope="session")
def snapshots(spark, code_fixture):
    _, root = code_fixture
    s1 = spark.read.parquet(f"{root}/code_files_s1.parquet")
    s2 = spark.read.parquet(f"{root}/code_files_s2.parquet")
    commits = spark.read.parquet(f"{root}/commits.parquet")
    return s1, s2, commits
