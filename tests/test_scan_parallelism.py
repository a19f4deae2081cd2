"""Input-layout rules of io/readers.load_table: single-row-group big
inputs are hash-repartitioned after the read (the row SET must be
identical, and the repair must not fire below the size threshold or on
well-laid-out data); small single-row-group inputs read as one
partition; each file's schema is inferred once per footprint."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark import plans
from pyspark_anomaly_detection_spark.io import readers
from pyspark_anomaly_detection_spark.io.readers import load_table


@pytest.fixture(scope="module")
def spark():
    from pyspark_anomaly_detection_spark.session import get_spark_session

    return get_spark_session("test-scan-parallelism")


def test_small_tables_not_repartitioned(spark):
    """At the correctness SFs every table sits below the byte threshold:
    the plan must stay a bare scan (no injected Exchange)."""
    df = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    assert "RepartitionByExpression" not in df._jdf.queryExecution().optimizedPlan().toString()


def _jobs(spark, fn):
    """(fn(), Spark jobs it started)."""
    sc = spark.sparkContext
    group = "scan-parallelism-jobs"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        out = fn()
        return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        sc.setJobGroup("", "")


def test_small_single_row_group_table_reads_as_one_partition(spark, tmp_path):
    """Under the floor, one row group: one partition that satisfies the
    grouping's distribution, so the groupBy plans no exchange."""
    src = str(tmp_path / "small")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    ).coalesce(1).write.parquet(src + "/t.parquet")
    assert readers._row_groups(src + "/t.parquet") == 1
    assert readers._path_bytes(src + "/t.parquet") < readers.SINGLE_PARTITION_MAX_BYTES
    df = load_table(spark, src, "t")
    assert df.rdd.getNumPartitions() == 1
    grouped = df.groupBy("g").count()
    assert "Exchange" not in plans.formatted_plan(grouped)
    assert sorted(r["count"] for r in grouped.collect()) == [142] + [143] * 6


def test_multi_row_group_input_under_floor_not_coalesced(spark, tmp_path):
    """Several row groups (here, files) under the floor keep their scan
    parallelism: no coalesce, and the groupBy still shuffles."""
    src = str(tmp_path / "multi")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    ).repartition(4).write.parquet(src + "/t.parquet")
    assert readers._row_groups(src + "/t.parquet") == 4
    assert readers._path_bytes(src + "/t.parquet") < readers.SINGLE_PARTITION_MAX_BYTES
    df = load_table(spark, src, "t")
    assert "Repartition" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert "Exchange" in plans.formatted_plan(df.groupBy("g").count())


def test_schema_inferred_once_per_footprint(spark, tmp_path):
    """A second load_table of the same file runs no Spark job; rewriting
    the file (here with an added column) makes the next one infer again."""
    src = str(tmp_path / "memo")
    spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1).write.parquet(
        src + "/t.parquet"
    )
    _df, first = _jobs(spark, lambda: load_table(spark, src, "t"))
    df, second = _jobs(spark, lambda: load_table(spark, src, "t"))
    assert first >= 1 and second == 0
    assert df.columns == ["k"]
    spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("x").alias("extra")
    ).coalesce(1).write.mode("overwrite").parquet(src + "/t.parquet")
    df = load_table(spark, src, "t")
    assert df.columns == ["k", "extra"]
    assert {r.extra for r in df.collect()} == {"x"}


#: perfbench's ``olap_star`` mix (perfbench/workloads.py OLAP_STAR)
OLAP_STAR = (
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_revenue",
    "q04_daily_order_summary",
    "q107_blocking_supplier",
    "q21_velocity_windows",
    "q24_tumbling_hourly",
    "q61_rollup_cascade",
    "q63_sessionization_gap",
    "q130_daily_anomaly_monitor",
    "q39_dq_violation_counts",
)


def test_olap_star_queries_build_without_spark_jobs(spark, sf_dir):
    """Plan guardrail: on a warm session, building (not running) every
    ``olap_star`` query runs no Spark job — no schema inference, no
    collected aggregate, no count guard."""
    from pyspark_anomaly_detection_spark.registry import all_queries

    registry = all_queries()
    for name in OLAP_STAR:
        registry[name].fn(spark, sf_dir)  # warm: first reads infer
    jobs = {
        name: _jobs(spark, lambda name=name: registry[name].fn(spark, sf_dir))[1]
        for name in OLAP_STAR
    }
    assert not any(jobs.values()), jobs


def test_big_single_row_group_table_repairs_and_preserves_rows(spark, tmp_path):
    """A >threshold single-row-group file must gain scan parallelism with
    an IDENTICAL row multiset."""
    src = str(tmp_path / "wide")
    spark.range(0, 400_000).select(
        F.col("id").alias("k"),
        # random-ish pad defeats parquet compression so the file crosses
        # the byte threshold without millions of rows
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        F.sha2(F.concat(F.lit("b"), F.col("id").cast("string")), 256).alias("pad2"),
    ).coalesce(1).write.parquet(src + "/big.parquet")
    size = readers._path_bytes(src + "/big.parquet")
    assert size >= readers.SCAN_PARALLEL_MIN_BYTES, "fixture must cross threshold"
    assert readers._row_groups(src + "/big.parquet") < 8

    repaired = load_table(spark, src, "big")
    assert "RepartitionByExpression" in repaired._jdf.queryExecution().optimizedPlan().toString()
    assert repaired.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    agg = repaired.agg(
        F.count("*").alias("n"), F.sum("k").alias("s"), F.min("k").alias("lo"), F.max("k").alias("hi")
    ).first()
    assert (agg.n, agg.s, agg.lo, agg.hi) == (400_000, 400_000 * 399_999 // 2, 0, 399_999)


def test_row_group_detection_skips_well_laid_out_input(spark, tmp_path):
    """A multi-file (multi-row-group) input above the byte threshold must
    NOT be re-shuffled — the repair is for row-group-starved layouts only."""
    src = str(tmp_path / "laid")
    spark.range(0, 400_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        F.sha2(F.concat(F.lit("b"), F.col("id").cast("string")), 256).alias("pad2"),
    ).repartition(16, "k").write.parquet(src + "/big.parquet")
    assert readers._row_groups(src + "/big.parquet") >= 16
    df = load_table(spark, src, "big")
    assert "RepartitionByExpression" not in df._jdf.queryExecution().optimizedPlan().toString()
