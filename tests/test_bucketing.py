"""Bucketed co-located joins: the write-once / shuffle-never layout must
actually produce zero-Exchange SortMergeJoins and bucket-pruned probes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.bucketing import colocated_join, write_bucketed
from pg2kinesis_spark.io import load_table


def _final_plan(df) -> str:
    df.collect()  # let AQE finalize so the string is the executed plan
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_small):
    write_bucketed(load_table(spark, sf_small, "orders"), "b_orders", "o_custkey", buckets=8)
    write_bucketed(
        load_table(spark, sf_small, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer",
        "o_custkey",
        buckets=8,
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_colocated_join_has_no_exchange(spark, bucketed_tables):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "b_orders", "b_customer", "o_custkey").select(
            "o_custkey", "o_orderkey", "c_name"
        )
        plan = _final_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # both sides co-partitioned by layout
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_colocated_join_matches_plain_join(spark, sf_small, bucketed_tables):
    j = colocated_join(spark, "b_orders", "b_customer", "o_custkey")
    plain = load_table(spark, sf_small, "orders").join(
        load_table(spark, sf_small, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
    )
    assert j.count() == plain.count()
    a = j.groupBy().agg(F.sum("o_totalprice").alias("s")).collect()[0].s
    b = plain.groupBy().agg(F.sum("o_totalprice").alias("s")).collect()[0].s
    assert abs(a - b) < 1e-6


def test_bucket_pruned_point_lookup(spark, bucketed_tables):
    # autoBucketedScan=true lets the planner fall back to a plain scan
    # when nothing needs the bucket distribution, which also forfeits
    # bucket pruning — force the bucketed scan for the point probe.
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        probe = spark.table("b_orders").filter(F.col("o_custkey") == 371)
        plan = _final_plan(probe)
        # point probe on the bucket key reads 1 of 8 buckets
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        spark.conf.set(key, old)
