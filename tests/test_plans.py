"""Physical-plan regression tests.

The README's "Verified physical plans" section is enforced here: if an
operator change stops a filter from reaching the parquet scan, widens a
pruned ReadSchema, or degrades a broadcast join to shuffle, these fail.
"""

import pytest

import __spark_entry__ as entry

from meza_spark.util import explain_str

SF = "/root/testdata/sf0.001"


def _plan(df, mode="formatted"):
    return explain_str(df, mode)


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _plan(entry.q1_pricing(spark, SF))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # ReadSchema pruned: the 16-column lineitem scan reads only 7
    scan_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert scan_schema.count(":") <= 8, scan_schema
    assert "l_comment" not in scan_schema


def test_cut_projection_reaches_scan(spark):
    plan = _plan(entry.cut_project(spark, SF))
    scan_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for kept in ("l_orderkey", "l_linenumber", "l_quantity"):
        assert kept in scan_schema
    assert "l_extendedprice" not in scan_schema
    assert "Exchange" not in plan  # pure projection: no shuffle


def test_q3_broadcasts_both_dims(spark):
    simple = _plan(entry.q3_shipping(spark, SF), "simple")
    assert simple.count("BroadcastHashJoin") == 2, simple
    plan = _plan(entry.q3_shipping(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_join_asof_no_range_explosion(spark):
    plan = _plan(entry.join_asof(spark, SF))
    assert "NestedLoop" not in plan
    assert "Window" in plan


def test_join_range_broadcast_nested_loop(spark):
    plan = _plan(entry.join_range(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_exact_dedup_shuffles_digest_not_text(spark):
    from meza_spark.llm.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(docs), "simple")
    # the exchange key must be the md5 digest column, not raw text
    exch = [ln for ln in plan.splitlines() if "Exchange hashpartitioning"
            in ln]
    assert exch and "_k" in exch[0], plan


@pytest.mark.parametrize("query", ["slice_orders", "shuffle_rank"])
def test_slice_rows_has_no_global_window(spark, query):
    # the two-pass offset scans must not plan a WindowExec: a global
    # row_number() OVER (ORDER BY ...) is a single-reducer sort, and
    # the within-partition record number already is the local index
    plan = _plan(getattr(entry, query)(spark, SF), "simple")
    assert "Window" not in plan, plan


def test_ivf_kmeans_fit_input_is_bounded(spark):
    # the k-means training frame must carry a GlobalLimit: fitting on
    # the full corpus is 10 distributed passes over every vector
    from meza_spark.llm.similarity import _ivf_train_df

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(_ivf_train_df(emb, "embedding", 100), "extended")
    assert "GlobalLimit 100" in plan, plan
    assert _ivf_train_df(emb, "embedding", 7).count() == 7


def test_q6_filters_pushed_to_scan(spark):
    import __spark_entry__ as e

    df = e.queries()["q6_forecast"](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "simple")
    # filters reach the parquet reader (plan string truncates the
    # list, so match the prefix) and the scan prunes to the 4 columns
    # the query touches
    assert "PushedFilters: [IsNotNull(" in plan
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate:timestamp" in plan)


def test_q14_part_side_broadcast(spark):
    import __spark_entry__ as e

    df = e.queries()["q14_promo"](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q10_dims_broadcast(spark):
    simple = _plan(entry.q10_returned(spark, SF), "simple")
    # customer and nation ride broadcasts; only lineitem×orders may
    # shuffle
    assert simple.count("BroadcastHashJoin") >= 2, simple
    plan = _plan(entry.q10_returned(spark, SF))
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the scan


def test_merge_into_single_join_no_window(spark):
    t = spark.range(100).select(
        entry.F.col("id").alias("k"),
        (entry.F.col("id") * 2.0).alias("v"))
    s = spark.range(50).select(
        entry.F.col("id").alias("k"),
        (entry.F.col("id") * 3.0).alias("v"))
    from meza_spark.process import merge_into

    plan = _plan(merge_into(t, s, on="k"), "simple")
    # exactly one join, no window, no extra aggregate pass
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    assert "Window" not in plan


def test_temperature_sample_no_corpus_shuffle(spark):
    from meza_spark.llm.sampling import temperature_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = temperature_sample(docs, "doc_id", "lang", alpha=0.5)
    plan = _plan(out, "simple")
    # the keep-filter is row-local: no Exchange in the output plan
    # (the strata-count groupBy ran eagerly at build time)
    assert "Exchange" not in plan, plan


def test_q22_scalar_subquery_broadcast(spark):
    plan = _plan(entry.q22_idle_cust(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" in plan  # one-row avg broadcast
    assert plan.count("SortMergeJoin") <= 1


def test_q9_dims_broadcast_single_fact_shuffle(spark):
    plan = _plan(entry.q9_profit(spark, SF), "simple")
    # part/supplier/nation broadcast; the only sort-merge-eligible
    # join is lineitem x orders on orderkey
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    full = _plan(entry.q9_profit(spark, SF))
    assert "StringContains(p_name,red)" in full  # filter reached scan


def test_q21_reuses_orderkey_exchange(spark):
    plan = _plan(entry.q21_waiting(spark, SF))
    # the decorrelated exists/not-exists runs off ONE per-order agg:
    # no nested-loop join anywhere
    assert "NestedLoop" not in plan
    # orders' status filter is pushed to the scan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_q17_no_cartesian_and_pushed_brand(spark):
    plan = _plan(entry.q17_smallqty(spark, SF))
    assert "NestedLoop" not in plan
    assert "EqualTo(p_brand,Brand#3)" in plan


def test_q15_max_is_broadcast_not_rescan(spark):
    plan = _plan(entry.q15_topsupp(spark, SF), "simple")
    # the scalar max is a window over the per-supplier agg, so
    # lineitem is scanned exactly once (plus the supplier dim)
    assert plan.count("Scan parquet") <= 2, plan


def test_q19_single_broadcast_join(spark):
    plan = _plan(entry.q19_disjunct(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_filter_no_shuffle(spark):
    from meza_spark.llm.text import gopher_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(gopher_filter(docs), "simple")
    assert "Exchange" not in plan  # row-local rules only


def test_psi_drift_scaffold_broadcast(spark):
    from meza_spark.profile import psi_drift

    o = spark.read.parquet(f"{SF}/orders.parquet")
    a = o.where(entry.F.col("o_orderpriority") == "1-URGENT")
    b = o.where(entry.F.col("o_orderpriority") != "1-URGENT")
    plan = _plan(psi_drift(a, b, "o_totalprice", lo=0.0, hi=600000.0),
                 "simple")
    # per-side fraction frames and the totals join all broadcast; the
    # only exchanges are the two nbins-row aggregations
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q7_single_fact_shuffle_join(spark):
    simple = _plan(entry.q7_volume(spark, SF), "simple")
    # supplier/customer pre-reduced to the two nations and broadcast;
    # the only sort-merge join is lineitem x orders on orderkey
    assert simple.count("SortMergeJoin") <= 1, simple
    full = _plan(entry.q7_volume(spark, SF))
    assert "In(n_name, [NATION_3,NATION_7])" in full  # pushed to scan


def test_q8_region_folds_into_customer_build_side(spark):
    simple = _plan(entry.q8_mktshare(spark, SF), "simple")
    assert simple.count("SortMergeJoin") <= 1, simple
    full = _plan(entry.q8_mktshare(spark, SF))
    assert "EqualTo(r_name,AMERICA)" in full
    assert "EqualTo(p_type,PROMO)" in full


def test_resample_scaffold_not_fact_sized(spark):
    from meza_spark.process import resample

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", entry.F.timestamp_micros(entry.F.expr("ts div 1000"))
        if dict(spark.read.parquet(f"{SF}/events.parquet").dtypes)
        .get("ts") == "bigint" else entry.F.col("ts"))
    out = resample(ev, "ts", "3600", keys="event_type",
                   aggs={"n": ("ts", "count")}, fill="ffill")
    plan = _plan(out, "simple")
    # scaffold generates from the per-key span AGGREGATE (explode over
    # sequence), never re-scanning the fact for the grid
    assert plan.count("Scan parquet") <= 2, plan
    assert "Generate explode" in plan


def test_spatial_radius_join_no_cartesian(spark):
    """The grid blocking must surface as an equi-join on cell keys —
    never a cartesian/nested-loop pair explosion."""
    plan = _plan(entry.spatial_radius_join(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_snapshot_diff_single_join_no_window(spark):
    plan = _plan(entry.snapshot_diff_orders(spark, SF), "simple")
    # one keyed join, CASE classification — no window, no second pass
    assert plan.count("Join") == 1, plan
    assert "Window" not in plan


def test_fuzzy_decontam_broadcast_probe(spark):
    """The benchmark gram table must broadcast: the corpus side's
    grams never ride a shuffle to meet it."""
    from meza_spark.llm.decontam import fuzzy_contamination_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where("doc_id % 50 = 0")
    train = docs.where("doc_id % 50 != 0")
    plan = _plan(fuzzy_contamination_pairs(train, bench, n=5,
                                           min_containment=0.4),
                 "simple")
    assert "BroadcastHashJoin" in plan


def test_budget_sample_partitioned_window(spark):
    """The running-sum window is PARTITIONED by the stratum — no
    single-reducer global window."""
    from meza_spark.llm.sampling import budget_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(budget_sample(docs, "doc_id", "source", "n_chars",
                               default=1000))
    assert "Window" in plan
    import re

    w = [ln for ln in plan.splitlines()
         if "partitionBy" in ln or "PartitionSpec" in ln]
    # formatted plans render the window spec with its partition keys
    assert any("source" in ln for ln in plan.splitlines()
               if "windowspecdefinition" in ln.lower()
               or "partitionBy" in ln) or "source" in plan


def test_cusum_one_exchange_two_window_passes(spark):
    # both window specs share the series-key partitioning: ONE shuffle
    plan = _plan(entry.cusum_events(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_ewma_one_exchange_no_python(spark):
    plan = _plan(entry.ewma_events(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # weights are literal arrays in the plan — no Python boundary
    assert "Python" not in plan and "BatchEval" not in plan


def test_readability_rowlocal_no_exchange(spark):
    from meza_spark.llm.text import readability

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(readability(docs), "simple")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_canonical_url_rowlocal_no_exchange(spark):
    from meza_spark.llm.url import canonical_url

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .selectExpr("doc_id", "concat('https://x.com/', source) AS url")
    plan = _plan(canonical_url(docs), "simple")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_attribution_lookback_reaches_join_condition(spark):
    plan = _plan(entry.attribution_events(spark, SF))
    # the conversions-x-touches join must carry the time bound as a
    # join/filter condition, not explode then filter cartesian-style
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
