from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_anomaly_detection_spark.session import get_spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session("engine-tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_df(spark, sf_dir):
    """Frame of a registered query, built on first use and kept: the
    oracle-parity sweep and the blanket plan checks in test_plans.py walk
    the same registry, so each query builds once per session instead of
    once per sweep.  A frame the parity sweep has run keeps its adaptive
    plan's initial form next to the final one, so plan-text checks still
    see every node that was planned.  ``clear()`` drops the frames."""
    from pyspark_anomaly_detection_spark.registry import all_queries

    registry = all_queries()
    memo = {}

    def frame(name):
        if name not in memo:
            memo[name] = registry[name].fn(spark, sf_dir)
        return memo[name]

    frame.clear = memo.clear
    yield frame
    memo.clear()


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Drop the tracked persist() pool after every test (cachepool.py) —
    tests that call operators directly (bypassing the registry wrapper)
    must not accumulate cache entries across the suite."""
    yield
    from pyspark_anomaly_detection_spark.cachepool import release_tracked

    release_tracked()


@pytest.fixture
def force_scalable_grouped(spark):
    """Force the grouped-window machinery onto its scalable range-
    exchange path regardless of input size (the size-adaptive dispatch
    would pick the plain window at fixture scale) — for the tests that
    pin the 100 TB plan shape or exercise the machinery itself."""
    from pyspark_anomaly_detection_spark.text import shards

    prev = spark.conf.get(shards.SMALL_PLAN_BYTES_CONF, None)
    spark.conf.set(shards.SMALL_PLAN_BYTES_CONF, "0")
    yield
    if prev is None:
        spark.conf.unset(shards.SMALL_PLAN_BYTES_CONF)
    else:
        spark.conf.set(shards.SMALL_PLAN_BYTES_CONF, prev)


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views —
    mirrors the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    from pyspark_anomaly_detection_spark.io.readers import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
