"""Tests for meza_spark.llm.hll and util.plan_stats."""

from pyspark.sql import functions as F

from meza_spark.llm.hll import (distinct_sketches, hll_estimate,
                                hll_merge)
from meza_spark.util import explain_str, plan_stats


def test_hll_estimate_accuracy(spark):
    df = spark.range(10_000).select((F.col("id") % 1000).alias("x"))
    got = (distinct_sketches(df, "x")
           .select(hll_estimate("sketch").alias("n")).collect()[0]["n"])
    assert abs(got - 1000) / 1000 < 0.05


def test_hll_merge_equals_full(spark):
    df = spark.range(5000).select(F.col("id").alias("x"))
    full = (distinct_sketches(df, "x")
            .select(hll_estimate("sketch").alias("n")).collect()[0]["n"])
    halves = distinct_sketches(
        df.withColumn("h", F.col("x") % 2), "x", keys=["h"])
    merged = (halves.agg(hll_merge("sketch").alias("u"))
              .select(hll_estimate("u").alias("n")).collect()[0]["n"])
    assert merged == full            # same registers → same estimate


def test_hll_per_key_then_rollup(spark):
    df = spark.range(1200).select(
        (F.col("id") % 3).alias("src"), (F.col("id") % 400).alias("x"))
    per = distinct_sketches(df, "x", keys=["src"])
    assert per.count() == 3
    rolled = (per.agg(hll_merge("sketch").alias("u"))
              .select(hll_estimate("u").alias("n")).collect()[0]["n"])
    assert abs(rolled - 400) / 400 < 0.05
    plan = explain_str(per, "simple")
    assert "Python" not in plan      # native DataSketches exprs


def test_plan_stats_counts(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    s = plan_stats(df)
    assert s["python"] == 0
    assert s["exchanges"] >= 1

