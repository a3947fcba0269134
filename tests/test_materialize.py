"""Materialization: no operator leaves a Dataset cache behind, and
none launches a Spark job its data does not need.

Operators are records in, records out; the only Dataset cache the
engine takes is the stats barrier in ``meza_spark.util.barrier``, which
drops it before returning, and the only checkpoint is
``meza_spark.util.lineage_cut``. A cache that outlived its operator would
serve stale rows to a later call over a rewritten input.
"""

import ast
import glob
import os

import pandas as pd
from pyspark.sql import functions as F

from meza_spark.llm.cluster import connected_components
from meza_spark.llm.sampling import global_shuffle, pack_sequences, \
    pack_shards
from meza_spark.process import slice_rows, unique
from meza_spark.util import explain_str, plan_stats, range_offsets, spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_offset_scans_see_rewritten_input(spark, tmp_path):
    path = str(tmp_path / "rows.parquet")

    def run(n):
        # rewritten outside Spark: same path, different row count
        pd.DataFrame({"k": range(n), "w": [1] * n}).to_parquet(path)
        df = spark.read.parquet(path)
        packed = pack_shards(df, "w", budget=10, order_by="k")
        return (packed.count(),
                packed.agg(F.max("shard_id")).first()[0],
                slice_rows(df, "k", first=1).count())

    assert run(100) == (100, 9, 100)
    assert run(300) == (300, 29, 300)


def test_no_cache_outlives_its_operator(spark):
    spark.catalog.clearCache()
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit(3).alias("w"),
        (F.col("id") % 7).alias("g"),
        F.concat(F.lit("a b c "), F.col("id").cast("string"))
        .alias("text"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    pack_shards(df, "w", budget=50, order_by="doc_id").collect()
    global_shuffle(df, "doc_id").collect()
    pack_sequences(df, size=8).collect()
    slice_rows(df, "doc_id", first=3, last=9).collect()
    unique(df, ["g"], bufsize=5, order_by="doc_id").collect()
    connected_components(pairs, small_quotient_threshold=0).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _calls(path, attrs):
    """Line numbers of every ``.<attr>(...)`` call with ``attr`` in
    ``attrs``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in attrs]


# each policy has one owner in util.py: the Dataset cache belongs to
# ``barrier``, every checkpoint to ``lineage_cut``
_OWNERS = {"barrier": ("persist", "cache"),
           "lineage_cut": ("localCheckpoint", "checkpoint")}


def test_dataset_cache_only_in_barrier():
    util = os.path.join(ROOT, "meza_spark", "util.py")
    with open(util, encoding="utf-8") as fh:
        fns = {n.name: range(n.lineno, n.end_lineno + 1)
               for n in ast.parse(fh.read()).body
               if isinstance(n, ast.FunctionDef)}
    paths = glob.glob(os.path.join(ROOT, "meza_spark", "**", "*.py"),
                      recursive=True)
    paths.append(os.path.join(ROOT, "__spark_entry__.py"))
    for owner, attrs in _OWNERS.items():
        inside = fns.get(owner, range(0))
        stray = [f"{os.path.relpath(p, ROOT)}:{line}" for p in sorted(paths)
                 for line in _calls(p, attrs)
                 if not (p == util and line in inside)]
        assert not stray, (owner, stray)
        assert any(line in inside for line in _calls(util, attrs)), owner


def test_spread_after_a_shuffle_launches_no_job(spark, count_jobs):
    # asking a shuffled frame for its partition count runs the shuffle
    agg = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    out, jobs = count_jobs(lambda: spread(agg))
    assert (out is agg, jobs) == (True, 0)


def test_spread_widens_a_one_partition_scan(spark, count_jobs):
    one = spark.range(0, 10, 1, numPartitions=1)
    out, jobs = count_jobs(lambda: spread(one))
    assert (jobs, plan_stats(out)["exchanges"]) == (0, 1)
    assert "RoundRobinPartitioning" in explain_str(out, "simple")


def test_small_pair_graph_is_one_job(spark, count_jobs):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long")
    comp, jobs = count_jobs(lambda: connected_components(pairs))
    assert jobs == 1
    assert sorted(map(tuple, comp.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20),
        (21, 20)]


def test_offsets_are_not_joined(spark):
    df = spark.range(50).select(F.col("id").alias("k"), F.lit(2).alias("w"))
    assert plan_stats(pack_shards(df, "w", 7, "k"))["broadcast_joins"] == 0


def test_range_offsets_over_empty_partitions(spark):
    # a skewed key leaves trailing range partitions empty once AQE no
    # longer coalesces them; rows with equal keys are identical, so
    # every order of ties gives the same (k, w, ...) multiset
    n, budget = 40, 7
    df = spark.range(n).select(F.least("id", F.lit(5)).alias("k")) \
        .withColumn("w", F.col("k") % 3 + 1)
    ref = df.toPandas().sort_values("k", kind="stable")
    ref["shard_id"] = (ref["w"].cumsum() - ref["w"]) // budget
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        tagged, total = range_offsets(df, "k")
        pids = {r[0] for r in tagged.select("_pid").distinct().collect()}
        assert len(pids) < tagged.rdd.getNumPartitions()
        assert total == n
        assert sorted(r[0] for r in tagged.select(
            F.col("_off") + F.col("_idx")).collect()) == list(range(n))
        packed = sorted(map(tuple, pack_shards(df, "w", budget, "k")
                            .select("k", "w", "shard_id").collect()))
        sliced = sorted(r[0] for r in slice_rows(df, "k", first=3, last=38)
                        .select("k").collect())
    finally:
        spark.conf.set(conf, old)
    assert packed == sorted(
        ref[["k", "w", "shard_id"]].itertuples(index=False, name=None))
    assert sliced == ref["k"].tolist()[2:38]
