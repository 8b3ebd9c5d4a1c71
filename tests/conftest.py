"""Shared fixtures: one session-scoped local SparkSession.

`local[4]` with few shuffle partitions keeps the suite fast; scale
behavior is exercised by bench.py / check_oracle.py at larger SFs.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    # engine-contract confs (AQE, bucketed-scan ordering, subset
    # co-partition reuse) come from the package's single definition so
    # the plan pins cover the plans the bench — and any caller that
    # follows the README — actually runs (r16, VERDICT r15 #2)
    from mldag_spark.session import recommended_session_confs

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("mldag_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in recommended_session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def persistent_rdds(spark):
    """Callable returning the ids of the session's persistent RDDs
    (cached frames and local checkpoints alike). Compare id sets, not
    counts: the async ContextCleaner may drop an earlier test's RDD
    mid-test, which a count would read as a release."""
    jsc = spark.sparkContext._jsc

    def ids() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    return ids
