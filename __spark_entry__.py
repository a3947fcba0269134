"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 (plus the
beyond-reference LLM-pipeline ops) is one builder function, registered
under its own name by ``@query``: the builder returns a DataFrame built
on ``meza_spark``, and the decorator carries its DuckDB twin, the SQL
the differential oracle compares it with. ``queries()`` and
``oracle_sql()`` are read from that registry; ``oracle_sql()`` also
merges the VALUES pins of ``_oracle_pins``. Adding a query is one
decorated builder, plus an append to ``bench.HEADLINE`` only if it is
to be benched.

Determinism rules used throughout (so Spark/DuckDB value-hashes match):
  - monetary double sums go through DECIMAL(38,8) (exact, order-free)
    then cast back to double — ``_dsum`` here, mirrored in SQL;
  - l_quantity is integral-valued so plain double sums are exact;
  - top-k queries carry a unique tiebreak key;
  - timestamps are truncated/cast (date, epoch seconds) at the edge.
"""

# no `from __future__ import annotations`: stringified hints break
# pandas_udf type-hint inference for closure-defined UDFs (udaf_range)

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meza_spark import convert as cv
from meza_spark import process as pr
from meza_spark.llm import dedup as du
from meza_spark.llm import similarity as sim
from meza_spark.llm import text as tx
from meza_spark.util import lineage_cut, spread

SF001 = "/root/testdata/sf0.001"

Builder = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, Builder] = {}
_TWINS: dict[str, str] = {}
_NEEDS: dict[str, str] = {}


def query(twin=None, *, needs: str | None = None):
    """Register a query builder under its function name.

    ``@query(sql)`` pairs the builder with its DuckDB twin, the SQL the
    oracle runs over the same parquet tables. A bare ``@query``
    registers a builder checked another way: a VALUES pin in
    ``_oracle_pins`` or a ``*_fast_parity`` query. ``needs`` names an
    input outside the SF directory; while it is absent the query is
    listed by ``unavailable()`` instead of run. A name registered
    twice raises."""
    if callable(twin):
        return query()(twin)

    def register(fn: Builder) -> Builder:
        name = fn.__name__
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        _QUERIES[name] = fn
        if twin is not None:
            _TWINS[name] = twin
        if needs is not None:
            _NEEDS[name] = needs
        return fn

    return register


def queries() -> dict[str, Builder]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = dict(_TWINS)
    # VALUES-pinned oracles for the seeded k-means/ANN/SemDeDup queries
    # (bit-deterministic across engine configs — hash-ordered fit
    # samples + seeded numpy Lloyd; verified under different
    # cpu/shuffle settings). Captured at the driver's correctness SF
    # by tools/pin_oracles.py; regenerate after operator changes.
    try:
        from _oracle_pins import PINNED

        out.update(PINNED)
    except ImportError:
        pass
    return out


def unavailable() -> dict[str, str]:
    """Registered queries whose ``needs`` input is absent on this host,
    each mapped to the missing path. bench.py, tools/oracle_check.py
    and tools/plan_audit.py report these instead of running them."""
    return {n: p for n, p in _NEEDS.items() if not os.path.exists(p)}


# Lazy-plan memo, NOT a result cache: spark.read.parquet re-lists the
# path and re-reads footers for the schema on every call — pure driver
# metadata work repeated by every query (and twice per bench timing).
# The memoized object is an unexecuted logical plan; every action still
# computes from the parquet files.
# It holds one session's plans: a miss from another session (a restart
# after stop()) drops the rest, so a stopped session is not kept alive.
_T_MEMO: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    memo = _T_MEMO.get(key)
    if memo is not None:
        return memo
    for k in [k for k in _T_MEMO if k[0] != key[0]]:
        del _T_MEMO[k]
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read nanos as long and convert to µs timestamp.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    _T_MEMO[key] = df
    return df


def _dsum(c) -> F.Column:
    """Order-independent sum for monetary doubles: exact decimal
    accumulation, one final cast to double ROUTED THROUGH A STRING.

    The direct decimal→double cast is engine-specific in its last ulp
    (DuckDB converts via int128 × 10^-scale in double arithmetic,
    which is not correctly rounded; observed 1-ulp q1 mismatches at
    sf0.1 magnitudes ~2.7e9). Decimal→string is exact in both engines
    and string→double is correctly-rounded strtod everywhere, so the
    round-trip yields the identical double bit pattern."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast("decimal(38,8)")).cast("string").cast("double")


def dsum(x: str) -> str:
    """``_dsum`` for the DuckDB twins: decimal -> string -> double, the
    same exact-then-correctly-rounded path in both engines."""
    return (f"CAST(CAST(SUM(CAST({x} AS DECIMAL(38,8))) AS VARCHAR) "
            "AS DOUBLE)")


def _meza_render(df: DataFrame) -> DataFrame:
    """Render every column to the reference's CSV text conventions —
    Python ``str()`` of the typed value: booleans 'True'/'False',
    dates ISO, timestamps ISO-'T', doubles via shortest-roundtrip
    ``repr`` (the one piece Spark's string cast gets wrong: it emits
    4.18E7-style scientific notation where python writes
    '41800000.01'), nulls ''. Used by the golden_* gates whose DuckDB
    twin reads the reference's published data/converted/*.csv
    verbatim, so both sides must agree on TEXT."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _frepr(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else repr(float(v)))

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        t = f.dataType.simpleString()
        if t == "boolean":
            r = F.when(c, F.lit("True")).when(~c, F.lit("False"))
        elif t == "date":
            r = F.date_format(c, "yyyy-MM-dd")
        elif t == "timestamp":
            r = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
        elif t in ("double", "float"):
            r = _frepr(c)
        else:
            r = c.cast("string")
        cols.append(F.coalesce(r, F.lit("")).alias(f.name))
    return df.select(*cols)


def _detect_cast(df: DataFrame) -> DataFrame:
    """The reference's README pipeline: detect then cast. hweight=1
    minimizes the confidence prior so the bounded sample converges on
    value evidence alone (the detected types are hweight-independent —
    see typetools.detect_types)."""
    from meza_spark import typetools as tt

    _, res = tt.detect_types(df, hweight=1)
    return cv.type_cast(df, res["types"])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

@query(f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           {dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {dsum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
           {dsum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
           {dsum('l_discount')} / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing(spark, sf_dir):
    """Flagship: TPC-H Q1 pricing summary — filter + group + mixed aggs
    (exercises tfilter/group/aggregate, SURVEY §2.3/§2.5)."""
    li = pr.tfilter(_t(spark, sf_dir, "lineitem"), "l_shipdate",
                    lambda c: c <= F.lit("1998-09-02"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_base_price"),
        _dsum(disc).alias("sum_disc_price"),
        _dsum(charge).alias("sum_charge"),
        (F.sum(F.col("l_quantity").cast("decimal(38,8)")).cast("double")
         / F.count("l_quantity")).alias("avg_qty"),
        (_dsum("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
        (_dsum("l_discount") / F.count("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order")))


@query("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem")
def cut_project(spark, sf_dir):
    return pr.cut(_t(spark, sf_dir, "lineitem"),
                  ["l_orderkey", "l_linenumber", "l_quantity"])


@query("""
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM orders WHERE o_orderstatus = 'F'
""")
def tfilter_orders(spark, sf_dir):
    df = pr.tfilter(_t(spark, sf_dir, "orders"), "o_orderstatus",
                    lambda c: c == "F")
    return df.select("o_orderkey", "o_custkey", "o_totalprice",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("o_orderdate"))


@query("""
    SELECT p_partkey, p_name, p_type, p_brand FROM part
    WHERE (p_name LIKE '%wid%' OR p_type LIKE '%wid%')
      AND regexp_matches(p_brand, '^(?:Brand#1)')
""")
def grep_parts(spark, sf_dir):
    df = pr.grep(_t(spark, sf_dir, "part"),
                 rules=[{"fields": ["p_name", "p_type"], "pattern": "wid"},
                        {"fields": ["p_brand"], "pattern": "Brand#1",
                         "regex": True}])
    return df.select("p_partkey", "p_name", "p_type", "p_brand")


@query("""
    SELECT c_mktsegment, c_nationkey, c_custkey, c_name, c_acctbal
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY c_mktsegment, c_nationkey
            ORDER BY c_custkey, c_name, c_acctbal) rn
          FROM customer) WHERE rn = 1
""")
def unique_custseg(spark, sf_dir):
    return pr.unique(_t(spark, sf_dir, "customer"),
                     ["c_mktsegment", "c_nationkey"], keep="first")


@query("SELECT c_custkey, md5(c_name) AS c_name FROM customer")
def hash_names(spark, sf_dir):
    df = pr.cut(_t(spark, sf_dir, "customer"), ["c_custkey", "c_name"])
    return pr.hash_(df, ["c_name"], algo="md5")


@query("""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def sort_topk(spark, sf_dir):
    df = pr.sort(_t(spark, sf_dir, "orders"),
                 ["o_totalprice", "o_orderkey"], reverse=[True, False])
    return df.limit(10).select("o_orderkey", "o_totalprice")


@query("""
    SELECT event_id,
           COALESCE(CASE WHEN value < 10 THEN NULL ELSE value END, 0.0) AS value
    FROM events
""")
def fillempty_const(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("value") < 10, None).otherwise(F.col("value")))
    filled = pr.fillempty(ev, value=0.0, fields=["value"])
    return filled.select("event_id", "value")


@query("""
    SELECT event_id, user_id,
           LAST_VALUE(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM events
""")
def fillempty_ffill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("value") < 10, None).otherwise(F.col("value")))
    filled = pr.fillempty(ev, method="front", fields=["value"],
                          order_by="event_id", partition_by=["user_id"])
    return filled.select("event_id", "user_id", "value")


@query("SELECT SUM(l_quantity) AS sum_qty FROM lineitem")
def agg_sum_qty(spark, sf_dir):
    return pr.aggregate(_t(spark, sf_dir, "lineitem"), "l_quantity",
                        "sum", alias="sum_qty")


@query("""
    SELECT MAX(l_quantity) AS l_quantity,
           MAX(l_extendedprice) AS l_extendedprice,
           MAX(l_discount) AS l_discount
    FROM lineitem
""")
def merge_fold(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount")
    return pr.merge(df, op="max", pred=lambda c: True)


@query("""
    SELECT l_returnflag,
           SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS "F",
           SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS "O"
    FROM lineitem GROUP BY l_returnflag
""")
def pivot_returnflag(spark, sf_dir):
    return pr.pivot(_t(spark, sf_dir, "lineitem")
                    .select("l_returnflag", "l_linestatus", "l_quantity"),
                    rows=["l_returnflag"], column="l_linestatus",
                    data="l_quantity", op="sum", values=["F", "O"])


@query("""
    SELECT p_partkey, 'p_size' AS field, CAST(p_size AS VARCHAR) AS data FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice',
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) FROM part
""")
def normalize_unpivot(spark, sf_dir):
    df = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size",
        F.col("p_retailprice").cast("decimal(12,2)").alias("p_retailprice"))
    return pr.normalize(df, ["p_size", "p_retailprice"], key_name="field")


@query("""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
""")
def join_inner(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cn = pr.join(c, n, on=c.c_nationkey == n.n_nationkey, broadcast=True)
    cnr = pr.join(cn, r, on=F.col("n_regionkey") == r.r_regionkey,
                  broadcast=True)
    return cnr.select("c_custkey", "c_name", "n_name", "r_name")


@query("""
    SELECT o_orderkey, c_custkey, c_mktsegment
    FROM orders LEFT JOIN
         (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
         ON o_custkey = c_custkey
""")
def join_left(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    j = pr.join(o, c, on=o.o_custkey == c.c_custkey, how="left",
                broadcast=True)
    return j.select("o_orderkey", "c_custkey", "c_mktsegment")


@query("""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
""")
def join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    j = pr.join(c, o, on=c.c_custkey == o.o_custkey, how="left_semi")
    return j.select("c_custkey", "c_name")


@query("""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = pr.join(c, o, on=c.c_custkey == o.o_custkey, how="left_anti")
    return j.select("c_custkey", "c_name")


@query("SELECT r_name, n_name FROM region CROSS JOIN nation")
def cross_join(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return pr.join(r, n, on=None).select("r_name", "n_name")


@query("""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
""")
def union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F")
    b = o.filter(F.col("o_orderstatus") == "O")
    return a.unionByName(b).select("o_orderkey", "o_orderstatus")


@query("""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
""")
def intersect_keys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query("""
    SELECT DISTINCT o_custkey AS k FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")
def except_keys(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    return o.distinct().subtract(c)


@query("""
    SELECT event_id, user_id, value,
           MAX(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max
    FROM events
""")
def window_running(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = pr.everseen(ev, "value", order_by="event_id", op="max",
                      partition_by=["user_id"])
    return out.select("event_id", "user_id", "value",
                      F.col("value_everseen").alias("running_max"))


@query("""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.count(F.lit(1)).alias("n")))


@query(f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {dsum('o_totalprice')} AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def cube_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("o_totalprice").alias("total")))


@query(f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type, COUNT(*) AS n, {dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
""")
def window_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    return (ev.groupBy(F.unix_timestamp(hour).alias("hour_epoch"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("value").alias("sum_value")))


@query("""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey ASC) rn FROM orders)
    WHERE rn <= 3
""")
def topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = pr.topk_per_group(o, ["o_orderpriority"],
                            ["o_totalprice", "o_orderkey"], k=3,
                            desc=[True, False])
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


@query("""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderkey END AS casted
    FROM orders
""")
def cast_currency_int(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    messy = F.when(F.col("o_orderkey") % 97 == 0, None).otherwise(
        F.concat(F.lit("$"), F.col("o_orderkey").cast("string")))
    return o.select("o_orderkey",
                    cv.to_int(messy).alias("casted"))


@query("""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN TRUE
                WHEN o_orderstatus = 'O' THEN FALSE
                ELSE TRUE END AS casted
    FROM orders
""")
def cast_bool_words(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    word = (F.when(F.col("o_orderstatus") == "F", "yes")
             .when(F.col("o_orderstatus") == "O", "f")
             .otherwise("True"))
    return o.select("o_orderkey", cv.to_bool(word).alias("casted"))


@query("""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS casted
    FROM orders
""")
def cast_fuzzy_date(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    s = F.date_format(F.col("o_orderdate"), "MM/dd/yyyy")
    return o.select("o_orderkey",
                    F.date_format(cv.to_date(s), "yyyy-MM-dd").alias("casted"))


@query(r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     + len(regexp_extract_all(text, '[a-z][A-Z]'))
                     + len(regexp_extract_all(text, '[^0-9\s][0-9]'))
                     + len(regexp_extract_all(text, '[0-9][^0-9\s]'))
           END AS n_subtokens
    FROM documents
""")
def llm_token_count(spark, sf_dir):
    d = tx.token_count(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "n_tokens", "n_subtokens")


@query(r"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
             length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> x IN ('the','and','of','to','is'))) AS n_stop
      FROM documents),
    r AS (
      SELECT doc_id,
             CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE)/n_tok ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_tok > 0 THEN CAST(n_alpha AS DOUBLE)/n_tok ELSE 0.0 END AS mean_word_len,
             n_chars
      FROM t)
    SELECT doc_id, punct_ratio, stopword_ratio, mean_word_len,
           (CASE WHEN n_chars >= 64 AND n_chars <= 100000
                 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN punct_ratio < 0.2
                   THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN stopword_ratio > 0.01
                   THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0
                   THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           ) AS quality
    FROM r
""")
def llm_quality(spark, sf_dir):
    d = tx.quality_score(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "punct_ratio", "stopword_ratio",
                    "mean_word_len", "quality")


@query(r"""
    WITH s AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    sc AS (
      SELECT doc_id,
             len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en,
             len(list_filter(toks, x -> x IN ('der','die','und','nicht','das'))) AS s_de,
             len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS s_fr,
             len(list_filter(toks, x -> x IN ('el','los','que','de','una'))) AS s_es
      FROM s)
    SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM sc
""")
def llm_langid(spark, sf_dir):
    d = tx.lang_id(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang_pred")


@query("""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
""")
def llm_fingerprint(spark, sf_dir):
    d = tx.fingerprint(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "fingerprint")


@query("""
    SELECT doc_id, lang, source FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR) || '#1')
          < '4000000000000000'
""")
def sample_hash(spark, sf_dir):
    """Deterministic md5-threshold sampling (reproducible data mixing:
    same kept set on any engine / partitioning / cluster size)."""
    from meza_spark.llm.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.25, seed=1) \
        .select("doc_id", "lang", "source")


@query("""
    SELECT doc_id, source FROM documents
    WHERE CASE
      WHEN source = 'src0'
        THEN md5(CAST(doc_id AS VARCHAR) || '#1') < 'g'
      WHEN source = 'src1'
        THEN md5(CAST(doc_id AS VARCHAR) || '#1')
             < '3333333333333400'
      ELSE md5(CAST(doc_id AS VARCHAR) || '#1')
           < '0000000000000000'
    END
""")
def sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling — keep 100% of 'wiki', 20%
    of 'web', 0% of everything else."""
    from meza_spark.llm.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, "doc_id", "source", {"src0": 1.0, "src1": 0.2},
        default=0.0, seed=1).select("doc_id", "source")


@query("""
    SELECT doc_id, n_chars,
           CAST(FLOOR(
             COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) / 50000.0) AS BIGINT) AS shard_id
    FROM documents
""")
def pack_shards(spark, sf_dir):
    """Token-budget shard assignment: global exclusive cumsum of
    n_chars over doc_id order, two-pass (no global window)."""
    from meza_spark.llm import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.pack_shards(d, "n_chars", budget=50_000,
                                order_by="doc_id")


@query(r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\n'),
                         x -> trim(x) <> '') AS lines,
             CASE WHEN trim(lower(text)) = ''
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents)
    SELECT doc_id,
           round(CASE WHEN len(lines) > 0
                 THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                            / len(lines)
                 ELSE 0.0 END, 6) AS dup_line_frac,
           round(CASE WHEN len(toks) > 0
                 THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                            / len(toks)
                 ELSE 0.0 END, 6) AS dup_word_frac,
           CASE WHEN len(toks) > 0
                THEN list_max(list_transform(list_distinct(toks),
                       w -> len(list_filter(toks, x -> x = w))))
                ELSE 0 END AS max_word_count
    FROM s
""")
def llm_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicated-line/word fractions
    + the most-repeated-token count, all row-local JVM expressions."""
    d = tx.repetition_signals(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.col("max_word_count").cast("bigint").alias("max_word_count"))


@query(r"""
    SELECT doc_id,
           round(CASE WHEN nl > 0
                 THEN CAST(endp AS DOUBLE) / nl ELSE 0.0 END, 6)
             AS term_punct_line_frac,
           round(CASE WHEN nl > 0
                 THEN CAST(shortl AS DOUBLE) / nl ELSE 0.0 END, 6)
             AS short_line_frac,
           lorem AS has_lorem_ipsum,
           curly AS has_curly_brace,
           ((nl >= 5 OR (CASE WHEN nl > 0
              THEN CAST(endp AS DOUBLE) / nl ELSE 0.0 END) >= 0.6)
            AND NOT lorem AND NOT curly) AS c4_keep
    FROM (
      SELECT doc_id,
        len(list_filter(string_split(text, chr(10)),
            x -> trim(x) <> '')) AS nl,
        len(list_filter(string_split(text, chr(10)),
            x -> trim(x) <> ''
                 AND regexp_matches(trim(x), '[.!?"]$'))) AS endp,
        len(list_filter(string_split(text, chr(10)),
            x -> trim(x) <> ''
                 AND len(regexp_split_to_array(trim(x), '\s+')) < 3))
          AS shortl,
        contains(lower(text), 'lorem ipsum') AS lorem,
        contains(text, '{') AS curly
      FROM documents)
""")
def llm_c4_flags(spark, sf_dir):
    """C4-style quality filters (terminal-punctuation line fraction,
    short-line fraction, lorem-ipsum / curly-brace markers, composite
    keep verdict) — row-local codegen'd expressions."""
    d = tx.c4_quality_flags(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.round("term_punct_line_frac", 6).alias("term_punct_line_frac"),
        F.round("short_line_frac", 6).alias("short_line_frac"),
        "has_lorem_ipsum", "has_curly_brace", "c4_keep")


@query(r"""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(
               'reach user' || CAST(c_custkey AS VARCHAR)
               || '@example.com or 555-'
               || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
               || '-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
               || '.17 card 4111111111111111 ok',
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{13,19}\b', '<CARD>', 'g') AS contact
    FROM customer
""")
def llm_pii_scrub(spark, sf_dir):
    """PII redaction: synthesize a contact blob from customer fields
    (phone shape derived from the key — testdata has no c_phone), scrub
    emails/IPs/phones/card numbers to typed tokens via chained JVM
    regexp_replace."""
    c = _t(spark, sf_dir, "customer")
    phone = F.concat(
        F.lit("555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"))
    blob = F.concat(F.lit("reach user"), F.col("c_custkey"),
                    F.lit("@example.com or "), phone,
                    F.lit(" ip 10.0."), F.col("c_custkey") % 256,
                    F.lit(".17 card 4111111111111111 ok"))
    d = c.select("c_custkey", blob.alias("contact"))
    return tx.scrub_pii(d, text_col="contact")


@query("""
    WITH l AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1))
               AS i
      FROM documents),
    freq AS (
      SELECT lower(trim(line)) AS norm
      FROM l WHERE trim(line) <> ''
      GROUP BY 1 HAVING count(*) >= 2)
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY i) AS text
    FROM l LEFT JOIN freq ON lower(trim(l.line)) = freq.norm
    WHERE freq.norm IS NULL
    GROUP BY doc_id
""")
def dedup_lines_corpus(spark, sf_dir):
    """Corpus-level duplicate-line removal (CCNet-style): drop lines
    whose normalized form repeats across documents; rebuild docs."""
    kept = du.dedup_lines(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        min_count=2)
    return kept.select("doc_id", "text")


@query("""
    SELECT doc_id, lang,
           CASE WHEN md5(CAST(doc_id AS VARCHAR) || '#7')
                     < '2000000000000000' THEN 'val'
                WHEN md5(CAST(doc_id AS VARCHAR) || '#7')
                     < '4000000000000000' THEN 'test'
                ELSE 'train' END AS split
    FROM documents
""")
def sample_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 band — split
    never changes under growth/repartition (no randomSplit)."""
    from meza_spark.llm.sampling import split_train_val

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_train_val(d, "doc_id", val_fraction=0.125,
                           test_fraction=0.125, seed=7)


@query("""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '#3')) - 1
             AS shuffle_rank
    FROM documents
""")
def shuffle_rank(spark, sf_dir):
    """Deterministic global shuffle: rank by md5(id) via one
    range-partitioned sort + two-pass partition offsets."""
    from meza_spark.llm.sampling import global_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(d, "doc_id", seed=3)


@query("""
    SELECT vec_id,
           array_to_string(
             list_transform(
               CASE WHEN n > 0
                    THEN list_transform(v, x -> x / n)
                    ELSE v END,
               x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT)
                         AS VARCHAR)),
             ',') AS unit
    FROM (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
      FROM embeddings)
""")
def embed_normalize(spark, sf_dir):
    """L2-normalize embeddings; unit vector emitted as a comma-joined
    string of integer micro-units (floor(x*1e6+0.5)) — scalar column so
    the driver's pandas canonicalizer can sort it (r2 verdict #1), and
    integer rendering is identical across Spark/DuckDB (float→string
    formatting is not)."""
    from meza_spark.llm.similarity import normalize_embeddings

    d = normalize_embeddings(_t(spark, sf_dir, "embeddings"))
    return d.select(
        "vec_id",
        F.concat_ws(",", F.transform(
            "embedding",
            lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("string"),
        )).alias("unit"))


@query("""
    SELECT id_a, id_b,
           CAST(floor(c * 10000 + 0.5) AS BIGINT) AS cosine_e4
    FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(a.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(b.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id % 2 = 0
           AND b.vec_id % 2 = 1)
    WHERE c >= 0.3
""")
def embed_cosine_join(spark, sf_dir):
    """Two-corpus similarity join (contamination-scan shape): even
    vec_ids vs odd vec_ids, exact within shared label blocks."""
    from meza_spark.llm.similarity import cosine_join

    e = _t(spark, sf_dir, "embeddings")
    left = e.filter(F.col("vec_id") % 2 == 0)
    right = e.filter(F.col("vec_id") % 2 == 1)
    # raw cosine quantized to integer 1e-4 units: Spark round() on
    # doubles goes through the shortest decimal string while DuckDB
    # rounds the exact binary value, so rounded floats tie-diverge at
    # scale (found by the sf0.1 differential); floor(x*1e4+0.5) on the
    # identical raw doubles is engine-invariant
    out = cosine_join(left, right, threshold=0.3, block_on="label",
                      round_digits=None)
    return out.select("id_a", "id_b",
                      F.floor(F.col("cosine") * 10000 + F.lit(0.5))
                      .cast("long").alias("cosine_e4"))


@query("""
    SELECT doc_id, text, lang, source, n_chars
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) rn FROM documents)
    WHERE rn = 1
""")
def dedup_exact(spark, sf_dir):
    return du.exact_dedup(_t(spark, sf_dir, "documents"))


# Exact all-pairs Jaccard >= 0.3 — equals the LSH+verify output
# because the seeded LSH has recall 1.0 on this corpus (every
# true pair has J >= 0.9; see dedup_minhash_lsh docstring).
@query(r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [array_to_string(
                      regexp_split_to_array(trim(lower(text)), '\s+'), ' ')]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
""")
def dedup_minhash_lsh(spark, sf_dir):
    """LSH candidate generation + exact-Jaccard verification (the
    production minhash-dedup pattern). Oracle-gated (r2 verdict #3):
    the DuckDB twin computes exact all-pairs Jaccard >= 0.3 — equality
    holds because the seeded 64-perm/16-band LSH has verified recall
    1.0 on this corpus's true-pair set (all true pairs have J >= 0.9;
    catch prob per pair 1-(1-J^4)^16 > 1-5e-8, fixed seeds)."""
    out = du.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                               min_jaccard=0.3)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


# Brute-force 64-bit SimHash + all-pairs hamming <= 3. The
# fingerprint is recomputed bit-for-bit from md5 hex digits:
# bit j of hash(token) = bit (j%4) of hex digit 15-(j//4)
# (big-endian first 16 chars), per-bit votes sum 2*bit-1, sign
# -> bit. Equality with the Spark query is exact: pigeonhole
# banding has recall 1 within the hamming budget.
@query(r"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(CASE WHEN trim(lower(text)) = ''
               THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END) AS t
      FROM documents),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 64), j ->
               CASE WHEN coalesce(list_sum(list_transform(t, tok ->
                 2 * (((strpos('0123456789abcdef',
                        substring(md5(tok), 16 - (j // 4), 1)) - 1)
                       >> (j % 4)) & 1) - 1)), 0) >= 0
               THEN 1 ELSE 0 END) AS f
      FROM toks)
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(list_sum(list_transform(range(0, 64), j ->
               CASE WHEN a.f[j+1] <> b.f[j+1] THEN 1 ELSE 0 END))
               AS INTEGER) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    WHERE hamming <= 3
""")
def dedup_simhash(spark, sf_dir):
    """SimHash pairs, hamming <= 3. Oracle-gated (r2 verdict #3): with
    token_hash='md5' the 64-bit fingerprint is bit-reproducible in
    DuckDB (per-bit vote sums from md5 hex digits), and the pigeonhole
    banding is EXACT (any pair within the budget shares a 16-bit
    chunk), so the emitted set equals the oracle's brute-force
    all-pairs hamming join."""
    return du.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3,
                            token_hash="md5")


@query(r"""
    WITH sh AS (
      SELECT doc_id, source || '|' || lang AS blk,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [trim(lower(text))]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.05
""")
def ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", "source", "lang"))
    out = du.ngram_jaccard(docs, n=3, min_jaccard=0.05, join_on="blk")
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, source || '|' || lang AS blk,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [trim(lower(text))]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM documents),
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.01),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.l FROM edges e JOIN reach r ON e.s = r.v),
    labels AS (SELECT v, min(l) AS component FROM reach GROUP BY v)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN labels lb ON d.doc_id = lb.v
    WHERE lb.component = d.doc_id
""")
def dedup_near_e2e(spark, sf_dir):
    """Near-dup dedup end-to-end, records in → records out: exact
    n-gram Jaccard pairs within (source, lang) blocks → distributed
    connected components → keep the min-doc_id representative per
    cluster. The deterministic-block twin of the minhash/simhash paths
    (same cluster+keep machinery, exact pair generation)."""
    from meza_spark.llm.cluster import near_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", "source", "lang"))
    kept = near_dedup(docs, method="ngram", n=3, min_jaccard=0.01,
                      join_on="blk")
    return kept.select("doc_id", "lang", "source", "n_chars")


@query("""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(
             list_sum(list_transform(list_zip(embedding, qe),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
    FROM embeddings, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 20
""")
def embed_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return sim.cosine_topk(emb, q, k=20, round_digits=4)


@query
def embed_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return sim.lsh_ann_topk(emb, q, k=10, n_planes=8, multiprobe=1)


@query(f"""
    SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
""")
def q3_shipping(spark, sf_dir):
    """TPC-H Q3-style: 3-way join + filter + agg + top-k (broadcast dims,
    one shuffle on the agg key)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    j = (li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (j.groupBy("l_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("o_orderdate"))
           .agg(_dsum(disc).alias("revenue")))
    return agg.orderBy(F.col("revenue").desc(),
                       F.col("l_orderkey").asc()).limit(10)


@query("""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupingSets([["l_returnflag"], ["l_linestatus"], []],
                            "l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.count(F.lit(1)).alias("n")))


@query("""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
""")
def count_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count_distinct("l_partkey").alias("n_parts"),
                 F.count_distinct("l_suppkey").alias("n_supps")))


@query("""
    SELECT l_returnflag,
           median(l_quantity) AS med_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
""")
def median_qty(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.median("l_quantity").alias("med_qty"),
                 F.min("l_quantity").alias("min_qty"),
                 F.max("l_quantity").alias("max_qty")))


@query(f"""
    WITH a AS (
      SELECT l_returnflag, COUNT(*) AS n,
             {dsum('l_quantity')} AS sx, {dsum('l_discount')} AS sy,
             {dsum('l_quantity * l_quantity')} AS sxx,
             {dsum('l_discount * l_discount')} AS syy,
             {dsum('l_quantity * l_discount')} AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           (CAST(n AS DOUBLE) * sxy - sx * sy) /
           (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
            sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_disc
    FROM a
""")
def corr_manual(spark, sf_dir):
    """Pearson correlation via explicit (sum, sum_sq, sum_xy) partial
    aggregation — the fntools.sum_and_count decomposition pattern
    (ref: meza/fntools.py:1232-1246) generalized, with decimal sums for
    cross-engine determinism."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(x).alias("sx"), _dsum(y).alias("sy"),
        _dsum(x * x).alias("sxx"), _dsum(y * y).alias("syy"),
        _dsum(x * y).alias("sxy"))
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * \
        F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    return agg.select("l_returnflag", (num / den).alias("corr_qty_disc"))


@query("""
    SELECT event_id, user_id, value,
           value - LAG(value, 1) OVER w AS delta_prev,
           LEAD(event_type, 1) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
""")
def lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id", "user_id", "value",
        (F.col("value") - F.lag("value", 1).over(w)).alias("delta_prev"),
        F.lead("event_type", 1).over(w).alias("next_type"))


@query("""
    SELECT o_orderpriority, o_orderkey, rnk, drnk, prnk FROM (
      SELECT o_orderpriority, o_orderkey,
             RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
             PERCENT_RANK() OVER w AS prnk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey))
    WHERE rnk <= 5
""")
def rank_pct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
              .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select("o_orderpriority", "o_orderkey",
                    F.rank().over(w).alias("rnk"),
                    F.dense_rank().over(w).alias("drnk"),
                    F.percent_rank().over(w).alias("prnk")) \
            .filter(F.col("rnk") <= 5)


@query("""
    SELECT l_orderkey, l_linenumber,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(month(l_shipdate) AS INT) AS ship_month,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) AS INT)
             AS ship_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""")
def date_arith(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    return j.select(
        "l_orderkey", "l_linenumber",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .alias("ship_delay_days"))


@query("""
    SELECT n_nationkey,
           CAST(n_nationkey AS VARCHAR) ||
           CASE WHEN n_nationkey % 100 IN (11,12,13) THEN 'th'
                WHEN n_nationkey % 10 = 1 THEN 'st'
                WHEN n_nationkey % 10 = 2 THEN 'nd'
                WHEN n_nationkey % 10 = 3 THEN 'rd'
                ELSE 'th' END AS ord
    FROM nation
""")
def ordinal_fmt(spark, sf_dir):
    from meza_spark.functions import add_ordinal

    n = _t(spark, sf_dir, "nation")
    return n.select("n_nationkey",
                    add_ordinal(F.col("n_nationkey")).alias("ord"))


# The sniff-replay WHEN chain shared by the multimodal_meta and
# media_dir_roundtrip twins (review find, r8: the precedence used to
# live in two copy-pasted SQL blocks — any new container had to be
# edited twice or the oracles diverged). It replays the text-expressible
# rows of multimodal._MAGICS, same precedence, written out by hand on
# purpose: it is the independent reference the oracle compares
# attach_media_meta against. substr/LIKE here are CHARACTER-indexed vs
# the byte-indexed Spark sniff — equivalent only on the ASCII corpus
# (rows whose signature holds a byte the ASCII corpus never contains
# — png, jpeg, zip, gzip, ebml and the bare-MPEG-sync predicate —
# need no branch).
_SNIFF_WHENS = """
                     WHEN text LIKE 'GIF87a%' OR text LIKE 'GIF89a%'
                       THEN 'gif'
                     WHEN text LIKE 'BM%' THEN 'bmp'
                     WHEN substr(text, 1, 4) = 'II*' || chr(0)
                       OR substr(text, 1, 4) = 'MM' || chr(0) || '*'
                       THEN 'tiff'
                     WHEN substr(text, 1, 4) = 'RIFF'
                          AND substr(text, 9, 4) = 'WAVE' THEN 'wav'
                     WHEN substr(text, 1, 4) = 'RIFF'
                          AND substr(text, 9, 4) = 'AVI ' THEN 'avi'
                     WHEN substr(text, 1, 4) = 'RIFF'
                          AND substr(text, 9, 4) = 'WEBP' THEN 'webp'
                     WHEN substr(text, 1, 4) = 'FORM'
                          AND substr(text, 9, 4) IN ('AIFF', 'AIFC')
                       THEN 'aiff'
                     WHEN substr(text, 1, 4) = '.snd' THEN 'au'
                     WHEN substr(text, 1, 2) IN ('P5', 'P6')
                       THEN 'netpbm'
                     WHEN substr(text, 1, 5) = '%PDF-' THEN 'pdf'
                     WHEN substr(text, 1, 5) = '{' || chr(92) || 'rtf'
                       THEN 'rtf'
                     WHEN substr(text, 1, 4) = '<svg'
                       OR ((substr(text, 1, 5) = '<?xml'
                            OR substr(text, 1, 4) = '<!--'
                            OR substr(text, 1, 13) = '<!DOCTYPE svg') AND
                           position('<svg' IN substr(text, 1, 1024)) > 0)
                       THEN 'svg'
                     WHEN substr(text, 5, 4) = 'ftyp'
                          AND substr(text, 9, 4) IN ('avif', 'avis')
                       THEN 'avif'
                     WHEN substr(text, 5, 4) = 'ftyp'
                          AND substr(text, 9, 4) IN
                              ('heic', 'heix', 'hevc', 'hevx')
                       THEN 'heic'
                     WHEN substr(text, 5, 4) = 'ftyp'
                          AND substr(text, 9, 4) IN ('mif1', 'msf1')
                       THEN 'heif'
                     WHEN substr(text, 5, 4) = 'ftyp' THEN 'mp4'
                     WHEN substr(text, 1, 4) = 'fLaC' THEN 'flac'
                     WHEN substr(text, 1, 3) = 'ID3' THEN 'mp3'
                     WHEN substr(text, 1, 4) = 'OggS' THEN 'ogg'
                     WHEN substr(text, 1, 4) IN (
                            chr(0) || chr(0) || chr(1) || chr(0),
                            chr(0) || chr(0) || chr(2) || chr(0))
                       THEN 'ico'
"""


# the twin REPLAYS the sniff's text-expressible prefixes in
# the same precedence (a doc text CAN legally start 'BM…',
# 'P5…', 'GIF87a…' etc. — hardcoding 'unknown' was a silent
# parity trap flagged by review; the UTF-8-impossible magics
# (PNG \\x89, JPEG \\xFF) need no branch). NOTE: substr/LIKE
# here are CHARACTER-indexed while the Spark sniff is
# BYTE-indexed over UTF-8 — equivalent only because the TPC-H
# document texts are pure ASCII (1 char = 1 byte); a corpus
# with multibyte chars in the first 12 bytes would need
# encode(text) byte slicing for the offset-5/9 branches.
@query(f"""
    SELECT doc_id,
           CASE {_SNIFF_WHENS}
             ELSE 'unknown'
           END AS format,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
""")
def multimodal_meta(spark, sf_dir):
    """Multimodal plumbing over real data: text → binary payload →
    format sniff + size + content hash (JVM-side over binary)."""
    from meza_spark.llm.multimodal import attach_media_meta

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    out = attach_media_meta(d)
    return out.select("doc_id", "format", "n_bytes", "payload_sha")


@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(list_avg(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1) * 3),
             j -> (doc_id * 7 + j * 11) % 256)), 6) AS mean_pixel
    FROM documents
""")
def multimodal_decode(spark, sf_dir):
    """REAL image decode, hash-gated (r2 verdict #4): synthesize a
    24-bit BMP per doc whose pixel bytes follow a closed-form pattern
    of (doc_id, n_chars), run the actual byte-level BMP decoder
    (row padding, bottom-up order, BGR swap), and emit pixel stats the
    DuckDB oracle recomputes arithmetically. Gates encode+decode
    end-to-end; PNG/JPEG stay honestly gated (no Pillow)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_bmp, decode_image

    @pandas_udf("binary")
    def _bmp(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 24 + 1, int(i) % 16 + 1
            j = np.arange(w * h * 3, dtype=np.int64)
            px = ((int(i) * 7 + j * 11) % 256).astype(np.uint8)
            out.append(_encode_bmp(px.reshape(h, w, 3)))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _bmp("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# PNG twin of multimodal_decode: same closed-form pixel
# arithmetic, channels split even/odd — the payload went
# through zlib + 5 cycling scanline filters on the Spark side,
# so a hash match proves the whole codec path.
@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END
                AS INTEGER) AS channels,
           round(list_avg(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1)
                      * (CASE WHEN doc_id % 2 = 0
                         THEN 3 ELSE 1 END)),
             j -> (doc_id * 13 + j * 5) % 256)), 6) AS mean_pixel
    FROM documents
""")
def multimodal_png(spark, sf_dir):
    """REAL PNG decode, hash-gated (r4 verdict #6): synthesize a
    non-interlaced 8-bit PNG per doc — RGB for even ids, grayscale
    for odd — whose pixel bytes follow a closed-form pattern of
    (doc_id, n_chars), encoded with the scanline filter CYCLING y%5
    so every one of the five unfilter paths (None/Sub/Up/Average/
    Paeth) is under the hash — and every third doc Adam7-INTERLACED,
    so the seven-pass scatter is under it too. The decoder is pure
    stdlib (zlib inflate + filter reconstruction); the DuckDB oracle
    recomputes the stats arithmetically from the same closed form
    (the payload encoding never appears in the oracle, so interlaced
    and plain docs share one twin)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_png, decode_image

    @pandas_udf("binary")
    def _png(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 24 + 1, int(i) % 16 + 1
            c = 3 if int(i) % 2 == 0 else 1
            j = np.arange(w * h * c, dtype=np.int64)
            px = ((int(i) * 13 + j * 5) % 256).astype(np.uint8)
            out.append(_encode_png(px.reshape(h, w, c),
                                   interlace=int(i) % 3 == 0))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _png("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# GIF twin of multimodal_png: the pixels index a 64-entry
# palette by a closed form, so the oracle recomputes the mean
# arithmetically — the LZW stream exists only on the Spark
# side; integer sums are exact in double, one division.
@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(list_sum(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             j -> (doc_id * 13 + ((doc_id * 7 + j * 11) % 64) * 5) % 256
                + (doc_id * 17 + ((doc_id * 7 + j * 11) % 64) * 3) % 256
                + (doc_id * 19 + ((doc_id * 7 + j * 11) % 64) * 7) % 256))
             / (3.0 * (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             6) AS mean_pixel
    FROM documents
""")
def multimodal_gif(spark, sf_dir):
    """REAL GIF decode, hash-gated: synthesize a GIF89a per doc whose
    pixels index a 64-entry palette by the closed form
    p_j = (doc_id*7 + j*11) % 64, with channel values
    (doc_id*13 + p*5) % 256 / (*17 + p*3) / (*19 + p*7) — every third
    doc row-INTERLACED so the 4-pass scatter is under the hash. The
    Spark side runs the actual variable-width LZW decode (sub-block
    reassembly, KwKwK, width growth, palette lookup); the DuckDB twin
    recomputes the stats arithmetically from the same closed form
    (the LZW stream never appears in the oracle, so a hash match
    proves the encode+decode path end to end)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_gif, decode_image

    @pandas_udf("binary")
    def _gif(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 24 + 1, int(i) % 16 + 1
            j = np.arange(w * h, dtype=np.int64)
            p = (int(i) * 7 + j * 11) % 64
            px = np.stack([(int(i) * 13 + p * 5) % 256,
                           (int(i) * 17 + p * 3) % 256,
                           (int(i) * 19 + p * 7) % 256],
                          axis=1).astype(np.uint8).reshape(h, w, 3)
            out.append(_encode_gif(px, interlace=int(i) % 3 == 0))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _gif("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# Mixed-format twin: BMP/PNG/GIF encode the SAME closed-form
# pixels (all lossless), so the gif twin's arithmetic covers
# the whole frame; the format cycling exists only Spark-side,
# which is exactly what makes the hash prove the dispatch.
@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(list_sum(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             j -> (doc_id * 13 + ((doc_id * 7 + j * 11) % 64) * 5) % 256
                + (doc_id * 17 + ((doc_id * 7 + j * 11) % 64) * 3) % 256
                + (doc_id * 19 + ((doc_id * 7 + j * 11) % 64) * 7) % 256))
             / (3.0 * (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             6) AS mean_pixel
    FROM documents
""")
def multimodal_mixed(spark, sf_dir):
    """Format-dispatch gate: one corpus whose payloads cycle
    BMP / PNG / GIF by doc_id%3 — all three lossless codecs decode
    the SAME closed-form palette pixels, so a single arithmetic
    DuckDB twin covers the whole frame and a hash match proves
    decode_pixels routes every container to the right real decoder.
    BMP docs alternate Windows BITMAPINFOHEADER and OS/2
    BITMAPCOREHEADER layouts by (doc_id//3)%2 (round 8 — the core
    header decodes to the same pixels, so the twin is unchanged).
    (JPEG is lossy, so it gates separately via the pinned
    multimodal_jpeg.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import (_encode_bmp, _encode_gif,
                                           _encode_png, decode_image)

    @pandas_udf("binary")
    def _mixed(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 1, i % 16 + 1
            j = np.arange(w * h, dtype=np.int64)
            p = (i * 7 + j * 11) % 64
            px = np.stack([(i * 13 + p * 5) % 256,
                           (i * 17 + p * 3) % 256,
                           (i * 19 + p * 7) % 256],
                          axis=1).astype(np.uint8).reshape(h, w, 3)
            if i % 3 == 0:
                out.append(_encode_bmp(px, os2=(i // 3) % 2 == 0))
            else:
                out.append((_encode_png, _encode_gif)[i % 3 - 1](px))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _mixed("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


@query
def multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode, hash-gated via a VALUES-pinned
    oracle (r2 verdict #3 pattern — the DCT/Huffman arithmetic is
    deterministic but not SQL-expressible): synthesize a closed-form
    gradient image per doc and run the full encode→decode loop —
    4:2:0 subsampling for even ids, grayscale every 5th, restart
    intervals every 7th, quality cycling 75/85/95 — then emit the
    decoded stats. Bit-deterministic across engine configs (pure
    numpy + stdlib arithmetic, no seeds, no shuffling)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_jpeg, decode_image

    @pandas_udf("binary")
    def _jpg(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 8, i % 16 + 8
            yy, xx = np.mgrid[0:h, 0:w]
            if i % 5 == 0:
                px = ((i * 11 + xx * 3 + yy * 5) % 256).astype(np.uint8)
            else:
                px = np.stack([(i * 11 + xx * 3 + yy * 5) % 256,
                               (i * 7 + xx * 2 + yy * 3) % 256,
                               (i * 13 + xx + yy * 7) % 256],
                              axis=2).astype(np.uint8)
            out.append(_encode_jpeg(
                px, quality=75 + (i % 3) * 10,
                subsample=i % 2 == 0,
                restart_interval=2 if i % 7 == 0 else 0))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _jpg("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# Animated-GIF twin: recompute each canvas snapshot's mean by
# sum algebra — S0 (full screen), S0 - region + patch
# (opaque composite at (1,1)), then the transparency-masked
# swap — plus the closed-form delay accounting. The GCE walk,
# LZW, masking and offsets exist only Spark-side.
@query("""
    WITH g AS (
      SELECT doc_id AS i,
             (n_chars % 20 + 6) AS w, (doc_id % 12 + 4) AS h,
             (n_chars % 20 + 6) // 2 AS pw,
             (doc_id % 12 + 4) // 2 AS ph
      FROM documents WHERE doc_id % 5 = 2
    ), s AS (
      SELECT i, w, h, pw, ph, w * h AS area,
        list_sum(list_transform(range(0, w * h),
          j -> (i*7 + j*11) % 256)) AS s0,
        list_sum(list_transform(range(0, pw * ph),
          j -> (i*7 + ((1 + j // pw) * w + 1 + j % pw) * 11)
               % 256)) AS sr0,
        list_sum(list_transform(range(0, pw * ph),
          j -> (i*17 + j*7) % 256)) AS sp1,
        list_sum(list_transform(range(0, pw * ph),
          j -> CASE WHEN (j // pw + j % pw) % 3 <> 0
               THEN (i*17 + j*7) % 256 ELSE 0 END)) AS sr1nt,
        list_sum(list_transform(range(0, pw * ph),
          j -> CASE WHEN (j // pw + j % pw) % 3 <> 0
               THEN (i*19 + j*5) % 255 ELSE 0 END)) AS sp2nt,
        (i % 10) * 10 AS d0, ((i + 3) % 10) * 10 AS d1
      FROM g
    )
    SELECT i AS media_id, CAST(0 AS INTEGER) AS frame_idx,
           CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           round(CAST(s0 AS DOUBLE) / area, 6) AS mean_pixel
    FROM s
    UNION ALL
    SELECT i, CAST(1 AS INTEGER), CAST(d0 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s0 - sr0 + sp1 AS DOUBLE) / area, 6)
    FROM s
    UNION ALL
    SELECT i, CAST(2 AS INTEGER), CAST(d0 + d1 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s0 - sr0 + sp1 - sr1nt + sp2nt
                      AS DOUBLE) / area, 6)
    FROM s
""")
def multimodal_gif_anim(spark, sf_dir):
    """REAL animated-GIF decode (decode_video), hash-gated by an
    arithmetic DuckDB twin: each doc gets a 3-frame GIF89a — full
    closed-form gray screen, an opaque patch composited at (1,1),
    then a TRANSPARENT patch whose holes keep the prior canvas —
    with closed-form per-frame delays. The oracle recomputes every
    canvas snapshot's mean by sum algebra (S0, S0 - region + patch,
    ...) so the GCE walk, transparency masking, offset compositing
    and delay accounting are all under the hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_gif_anim, decode_video

    @pandas_udf("binary")
    def _gif(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 20 + 6, i % 12 + 4
            pw, ph = w // 2, h // 2
            j = np.arange(w * h, dtype=np.int64)
            f0 = ((i * 7 + j * 11) % 256).astype(np.uint8) \
                .reshape(h, w)
            j2 = np.arange(pw * ph, dtype=np.int64)
            p1 = ((i * 17 + j2 * 7) % 256).astype(np.uint8) \
                .reshape(ph, pw)
            p2 = ((i * 19 + j2 * 5) % 255).astype(np.uint8)
            trans_mask = (j2 // pw + j2 % pw) % 3 == 0
            p2[trans_mask] = 255
            p2 = p2.reshape(ph, pw)
            frames = [np.repeat(f[:, :, None], 3, axis=2)
                      for f in (f0, p1, p2)]
            vals = sorted({int(v) for f in (f0, p1, p2)
                           for v in f.ravel()})
            idx255 = vals.index(255)
            d0, d1, d2 = (i % 10) * 10, ((i + 3) % 10) * 10, \
                ((i + 7) % 10) * 10
            out.append(_encode_gif_anim(
                frames, delays_ms=[d0, d1, d2], disposals=[1, 1, 0],
                offsets=[(0, 0), (1, 1), (1, 1)],
                transparent=[None, None, idx255]))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 5 == 2)
         .select(F.col("doc_id").alias("media_id"),
                 _gif("doc_id", "n_chars").alias("payload")))
    out = decode_video(d)
    return out.select("media_id", "frame_idx", "ts_ms", "width",
                      "height",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


@query
def multimodal_avi(spark, sf_dir):
    """REAL MJPEG-in-AVI frame decode (decode_video), gated via a
    VALUES-pinned oracle (lossy JPEG frames — the multimodal_jpeg
    pattern): each doc gets a 3-frame AVI whose frames are
    closed-form gradients at closed-form frame durations; the RIFF
    hdrl/movi walk, the per-frame JPEG decode and the timestamp
    arithmetic are all under the pin. Bit-deterministic (pure
    numpy + stdlib)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_avi_mjpeg, decode_video

    @pandas_udf("binary")
    def _avi(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 8, i % 16 + 8
            yy, xx = np.mgrid[0:h, 0:w]
            frames = []
            for k in range(3):
                frames.append(np.stack(
                    [(i * 11 + k * 29 + xx * 3 + yy * 5) % 256,
                     (i * 7 + k * 23 + xx * 2 + yy * 3) % 256,
                     (i * 13 + k * 17 + xx + yy * 7) % 256],
                    axis=2).astype(np.uint8))
            # %10==3 corpus: i%5 is constant, so duration variation
            # needs a modulus coprime with 10; every 3rd doc wraps
            # frames in LIST 'rec ' groupings (r6 review #6/#8)
            out.append(_encode_avi_mjpeg(
                frames, us_per_frame=(i % 7 + 1) * 20000,
                quality=75 + (i % 3) * 10,
                rec_groups=i % 3 == 0))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 3)
         .select(F.col("doc_id").alias("media_id"),
                 _avi("doc_id", "n_chars").alias("payload")))
    out = decode_video(d)
    return out.select("media_id", "frame_idx", "ts_ms", "width",
                      "height",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


@query
def multimodal_mp4v(spark, sf_dir):
    """REAL MJPEG-in-MP4 frame decode (decode_video), gated via a
    VALUES-pinned oracle (lossy JPEG frames — the multimodal_avi
    pattern): each doc gets a 3-frame MP4 whose video sample table
    (stsd 'jpeg', stts, two-samples-per-chunk stsc, stsz, stco) the
    walk must navigate; closed-form gradients, timescale 600,
    closed-form frame durations. Bit-deterministic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_mp4_mjpeg, decode_video

    @pandas_udf("binary")
    def _mp4(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 8, i % 16 + 8
            yy, xx = np.mgrid[0:h, 0:w]
            frames = []
            for k in range(3):
                frames.append(np.stack(
                    [(i * 5 + k * 31 + xx * 3 + yy * 5) % 256,
                     (i * 3 + k * 19 + xx * 2 + yy * 3) % 256,
                     (i * 17 + k * 13 + xx + yy * 7) % 256],
                    axis=2).astype(np.uint8))
            out.append(_encode_mp4_mjpeg(
                frames, timescale=600,
                frame_dur=(i % 7 + 1) * 6,
                quality=75 + (i % 3) * 10))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 9)
         .select(F.col("doc_id").alias("media_id"),
                 _mp4("doc_id", "n_chars").alias("payload")))
    out = decode_video(d)
    return out.select("media_id", "frame_idx", "ts_ms", "width",
                      "height",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# APNG twin: the binary-alpha OVER blend reduces to exact
# select/replace algebra; the SOURCE blend replaces the whole
# RGBA region. Means are over all 4 channels of every canvas
# pixel, like decode_video's px.mean().
@query("""
    WITH g AS (
      SELECT doc_id AS i,
             (n_chars % 20 + 6) AS w, (doc_id % 12 + 4) AS h,
             (n_chars % 20 + 6) // 2 AS pw,
             (doc_id % 12 + 4) // 2 AS ph
      FROM documents WHERE doc_id % 5 = 1
    ), s AS (
      SELECT i, w, h, pw, ph, 4 * w * h AS denom,
        list_sum(list_transform(range(0, w * h), j ->
          (i*7 + j*11) % 256 + (i*11 + j*5) % 256
          + (i*3 + j*13) % 256 + 255)) AS s1,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0 THEN
            (i*7 + ((1 + j // pw) * w + 1 + j % pw) * 11) % 256
          + (i*11 + ((1 + j // pw) * w + 1 + j % pw) * 5) % 256
          + (i*3 + ((1 + j // pw) * w + 1 + j % pw) * 13) % 256
          + 255 ELSE 0 END)) AS sr1nt,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0
          THEN 3 * ((i*17 + j*7) % 256) + 255
          ELSE 0 END)) AS sp2nt,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0
          THEN 3 * ((i*17 + j*7) % 256) + 255
          ELSE
            (i*7 + ((1 + j // pw) * w + 1 + j % pw) * 11) % 256
          + (i*11 + ((1 + j // pw) * w + 1 + j % pw) * 5) % 256
          + (i*3 + ((1 + j // pw) * w + 1 + j % pw) * 13) % 256
          + 255 END)) AS sreg2,
        list_sum(list_transform(range(0, pw * ph), j ->
          3 * ((i*19 + j*5) % 256)
          + (i*29 + j*3) % 256)) AS sp3,
        (i % 10) * 10 AS d0, ((i + 3) % 10) * 10 AS d1
      FROM g
    )
    SELECT i AS media_id, CAST(0 AS INTEGER) AS frame_idx,
           CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           round(CAST(s1 AS DOUBLE) / denom, 6) AS mean_pixel
    FROM s
    UNION ALL
    SELECT i, CAST(1 AS INTEGER), CAST(d0 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s1 - sr1nt + sp2nt AS DOUBLE) / denom, 6)
    FROM s
    UNION ALL
    SELECT i, CAST(2 AS INTEGER), CAST(d0 + d1 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s1 - sr1nt + sp2nt - sreg2 + sp3
                      AS DOUBLE) / denom, 6)
    FROM s
""")
def multimodal_apng(spark, sf_dir):
    """REAL animated-PNG decode (decode_video), hash-gated by an
    arithmetic DuckDB twin: each doc gets a 3-frame APNG — full
    closed-form RGBA screen, an OVER-blended patch with BINARY alpha
    (255 replaces exactly, 0 keeps exactly — so the float compositing
    is exact integer algebra), then a SOURCE-blended patch with a
    closed-form alpha channel — with closed-form delays. The oracle
    recomputes every RGBA canvas snapshot's mean by sum algebra, so
    the fcTL/fdAT walk, the per-frame PNG decode, the blend ops and
    the delay accounting are all under the hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_apng, decode_video

    @pandas_udf("binary")
    def _apng(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 20 + 6, i % 12 + 4
            pw, ph = w // 2, h // 2
            j = np.arange(w * h, dtype=np.int64)
            f1 = np.zeros((h, w, 4), np.uint8)
            f1[:, :, 0] = ((i * 7 + j * 11) % 256).reshape(h, w)
            f1[:, :, 1] = ((i * 11 + j * 5) % 256).reshape(h, w)
            f1[:, :, 2] = ((i * 3 + j * 13) % 256).reshape(h, w)
            f1[:, :, 3] = 255
            j2 = np.arange(pw * ph, dtype=np.int64)
            p2 = np.zeros((ph, pw, 4), np.uint8)
            v2 = ((i * 17 + j2 * 7) % 256).reshape(ph, pw)
            p2[:, :, 0] = p2[:, :, 1] = p2[:, :, 2] = v2
            p2[:, :, 3] = np.where(
                ((j2 // pw + j2 % pw) % 3 != 0).reshape(ph, pw),
                255, 0)
            p3 = np.zeros((ph, pw, 4), np.uint8)
            v3 = ((i * 19 + j2 * 5) % 256).reshape(ph, pw)
            p3[:, :, 0] = p3[:, :, 1] = p3[:, :, 2] = v3
            p3[:, :, 3] = ((i * 29 + j2 * 3) % 256).reshape(ph, pw)
            d0, d1, d2 = (i % 10) * 10, ((i + 3) % 10) * 10, \
                ((i + 7) % 10) * 10
            out.append(_encode_apng(
                [f1, p2, p3], delays_ms=[d0, d1, d2],
                disposes=[0, 0, 0], blends=[0, 1, 0],
                offsets=[(0, 0), (1, 1), (1, 1)]))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 5 == 1)
         .select(F.col("doc_id").alias("media_id"),
                 _apng("doc_id", "n_chars").alias("payload")))
    out = decode_video(d)
    return out.select("media_id", "frame_idx", "ts_ms", "width",
                      "height",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


@query
def multimodal_jpeg_prog(spark, sf_dir):
    """REAL progressive-JPEG (SOF2) decode, hash-gated via a
    VALUES-pinned oracle (same pattern as multimodal_jpeg): the
    progressive fixture encoder spreads the SAME quantized
    coefficients across a libjpeg-style scan script — DC first with
    successive approximation, DC refinement, AC spectral bands with
    EOB runs, AC refinement with correction bits — so the decoder's
    full T.81 §G machinery is under the pin. 4:2:0 for even ids,
    grayscale every 5th, restart intervals every 7th, quality
    cycling 75/85/95. Bit-deterministic (pure numpy + stdlib)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import (_encode_jpeg_progressive,
                                           decode_image)

    @pandas_udf("binary")
    def _jpg(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 8, i % 16 + 8
            yy, xx = np.mgrid[0:h, 0:w]
            if i % 5 == 0:
                px = ((i * 11 + xx * 3 + yy * 5) % 256).astype(np.uint8)
            else:
                px = np.stack([(i * 11 + xx * 3 + yy * 5) % 256,
                               (i * 7 + xx * 2 + yy * 3) % 256,
                               (i * 13 + xx + yy * 7) % 256],
                              axis=2).astype(np.uint8)
            # the %4==1 corpus makes every i odd, so subsampling
            # parity must come from a derived value (r6 review #2)
            out.append(_encode_jpeg_progressive(
                px, quality=75 + (i % 3) * 10,
                subsample=(i // 4) % 2 == 0,
                restart_interval=3 if i % 7 == 0 else 0))
        return pd.Series(out)

    # deterministic 1/4 subset: the gate checks the §G scan machinery
    # EXACTNESS; full-corpus decode rate is multimodal_jpeg's job
    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 4 == 1)
         .select(F.col("doc_id").alias("media_id"),
                 _jpg("doc_id", "n_chars").alias("payload")))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# MP4 shell twin: the declared mvhd/tkhd values are closed
# forms of (doc_id, n_chars); duration_ms replays the decoder's
# integer dur*1000//ts with the same integer dur construction
@query("""
    SELECT doc_id AS media_id,
           'mp4' AS format,
           CAST(n_chars % 1280 + 16 AS INTEGER) AS width,
           CAST(doc_id % 720 + 16 AS INTEGER) AS height,
           CAST(((n_chars % 5000 + 1)
                 * (600 + (doc_id % 5) * 100) // 10) * 1000
                // (600 + (doc_id % 5) * 100)
                AS BIGINT) AS duration_ms
    FROM documents ORDER BY doc_id
""")
def multimodal_mp4(spark, sf_dir):
    """REAL MP4 metadata parse, hash-gated: synthesize an ISO-BMFF
    shell per doc (ftyp + moov(mvhd + trak(tkhd))) with closed-form
    timescale/duration/dims of (doc_id, n_chars) — even ids use v0
    boxes, odd ids v1 (64-bit times) — and run the actual box walk;
    the DuckDB twin recomputes the declared values arithmetically."""
    import struct as _struct

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import parse_media_headers

    @pandas_udf("binary")
    def _mp4(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        def box(typ, body):
            return _struct.pack(">I", 8 + len(body)) + typ + body

        out = []
        for i, n in zip(doc_id, n_chars):
            ts = 600 + int(i) % 5 * 100
            dur = (int(n) % 5000 + 1) * ts // 10
            w, h = (int(n) % 1280 + 16, int(i) % 720 + 16)
            if int(i) % 2 == 0:
                mvhd = box(b"mvhd", _struct.pack(
                    ">B3xIIII", 0, 0, 0, ts, dur) + b"\x00" * 80)
                tkhd = box(b"tkhd", _struct.pack(">B3x", 0)
                           + b"\x00" * 72
                           + _struct.pack(">II", w << 16, h << 16))
            else:
                mvhd = box(b"mvhd", _struct.pack(
                    ">B3xQQIQ", 1, 0, 0, ts, dur) + b"\x00" * 80)
                tkhd = box(b"tkhd", _struct.pack(">B3x", 1)
                           + b"\x00" * 84
                           + _struct.pack(">II", w << 16, h << 16))
            out.append(box(b"ftyp", b"isom\x00\x00\x02\x00")
                       + box(b"moov", mvhd + box(b"trak", tkhd)))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _mp4("doc_id", "n_chars").alias("payload"))
    out = parse_media_headers(d)
    return (out.select("media_id", "format", "width", "height",
                       "duration_ms")
            )


@query("""
    SELECT doc_id AS media_id, lang,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           round(list_avg(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1) * 3),
             j -> (doc_id * 7 + j * 11) % 256)), 6) AS mean_pixel
    FROM documents
    WHERE n_chars % 24 + 1 >= 13
    ORDER BY doc_id
""")
def multimodal_e2e(spark, sf_dir):
    """Multimodal FLAGSHIP: synthetic BMP images + json metadata →
    WebDataset tar shard (the training-data container) → sample-per-
    row read → REAL byte-level BMP decode → metadata join → size
    filter. Gates the whole chain — binary payloads surviving the tar
    roundtrip, the decoder's padding/BGR/bottom-up walk, and the
    json side-channel — against one arithmetic DuckDB twin."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.io.webdataset import (read_webdataset,
                                          write_webdataset_shards)
    from meza_spark.llm.multimodal import _encode_bmp, decode_image

    @pandas_udf("binary")
    def _bmp(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 24 + 1, int(i) % 16 + 1
            j = np.arange(w * h * 3, dtype=np.int64)
            px = ((int(i) * 7 + j * 11) % 256).astype(np.uint8)
            out.append(_encode_bmp(px.reshape(h, w, 3)))
        return pd.Series(out)

    docs = (spread(_t(spark, sf_dir, "documents"))
            .select(F.col("doc_id").cast("string").alias("key"),
                    _bmp("doc_id", "n_chars").alias("img"),
                    F.to_json(F.struct("lang", "source")).alias("meta")))
    # executor-parallel shard write (r8 verdict task #2): the single-
    # tar records2webdataset sink serializes every sample through the
    # driver (super-linear in the factor-10 slope sample, 11.8×);
    # shards hash by key and sort internally, so bytes stay
    # deterministic per shard without the global orderBy
    path = _rt_path(sf_dir, "mm.wds.dir")
    import shutil

    shutil.rmtree(path, ignore_errors=True)   # no stale shards
    write_webdataset_shards(docs, path, "key",
                            {"bmp": "img", "json": "meta"},
                            n_shards=32).collect()
    wds = read_webdataset(spark, path)
    media = wds.select(
        F.col("key").cast("long").alias("media_id"),
        F.element_at("data", "bmp").alias("payload"),
        F.get_json_object(
            F.decode(F.element_at("data", "json"), "UTF-8"),
            "$.lang").alias("lang"))
    # decode_image emits (media_id, stats) only — join the json-borne
    # metadata back on the id (the side-channel under test)
    out = decode_image(media).join(media.select("media_id", "lang"),
                                   on="media_id")
    return (out.where(F.col("width") >= 13)
            .select("media_id", "lang", "width", "height",
                    F.round("mean_pixel", 6).alias("mean_pixel"))
            )


# The synthesized BMP's pixel bytes follow (doc_id*7 + j*11) %
# 256 over j in [0, w*h*3); recomputing the stats arithmetically
# gates the real _encode_bmp -> _decode_bmp byte path (padding,
# bottom-up rows, BGR swap) end-to-end.
@query("""
    WITH p AS (
      SELECT doc_id AS media_id,
             (n_chars % 24 + 1) * (doc_id % 16 + 1) AS sz,
             doc_id AS i
      FROM documents)
    SELECT media_id,
           array_to_string(list_transform(range(0, 8),
             k -> CAST(floor(CAST(CAST((
                    ((i * 7 + (3 * ((k * sz) // 8)) * 11) % 256
                   + (i * 7 + (3 * ((k * sz) // 8) + 1) * 11) % 256
                   + (i * 7 + (3 * ((k * sz) // 8) + 2) * 11) % 256)
                    / 3) / 255 AS REAL) AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT)), ',')
             AS features_micro
    FROM p
    ORDER BY media_id
""")
def image_features_docs(spark, sf_dir):
    """REAL image featurization (multimodal.image_features): synthetic
    BMPs → grayscale → nearest-neighbor resample onto an 8-long grid →
    [0,1] floats. Transport replays the float32 storage rounding in
    both engines (CAST to REAL and back) then micro-quantizes, so the
    whole decode→gray→sample→normalize chain is hash-gated."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_bmp, image_features

    @pandas_udf("binary")
    def _bmp(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 24 + 1, int(i) % 16 + 1
            j = np.arange(w * h * 3, dtype=np.int64)
            px = ((int(i) * 7 + j * 11) % 256).astype(np.uint8)
            out.append(_encode_bmp(px.reshape(h, w, 3)))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _bmp("doc_id", "n_chars").alias("payload"))
    out = image_features(d, resize_to=8)
    micro = F.transform(
        "features",
        lambda v: F.floor(v.cast("double") * 1000000 + F.lit(0.5))
        .cast("long"))
    return (out.select("media_id",
                       F.concat_ws(",", micro).alias("features_micro"))
            )


@query("""
    WITH v AS (
      SELECT doc_id, 400 + doc_id % 97 AS n,
             list_transform(range(0, 400 + doc_id % 97),
               j -> (doc_id * 31 + j * 7) % 2001 - 1000) AS vs
      FROM documents WHERE doc_id % 10 = 0)
    SELECT doc_id AS media_id,
           CAST(4000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 4000 AS BIGINT) AS duration_ms,
           round((list_sum(vs) / CAST(n AS DOUBLE)) / 32768, 6)
             AS mean_amp,
           round(sqrt(list_sum(list_transform(vs,
               x -> CAST(x * x AS DOUBLE))) / n) / 32768, 6) AS rms,
           round(list_max(list_transform(vs, x -> abs(x)))
                 / 32768.0, 6) AS peak
    FROM v
""")
def multimodal_audio(spark, sf_dir):
    """REAL WAV PCM decode, hash-gated: synthesize 16-bit mono WAV per
    doc with a closed-form sample pattern, decode via the RIFF walker +
    numpy sample stats, oracle recomputes mean/rms/peak arithmetically
    (integer sample sums are exact in double; /2^15 and sqrt are
    correctly rounded in both engines)."""
    import numpy as np
    import pandas as pd
    import struct as _struct
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_audio

    @pandas_udf("binary")
    def _wav(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            n = 400 + int(i) % 97
            s = np.arange(n, dtype=np.int64)
            v = ((int(i) * 31 + s * 7) % 2001 - 1000).astype("<i2")
            data = v.tobytes()
            out.append(
                b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 4000,
                                         8000, 2, 16)
                + b"data" + _struct.pack("<I", len(data)) + data)
        return pd.Series(out)

    # deterministic 1/10 subset: the gate checks decode EXACTNESS, not
    # synthesis throughput — full-corpus audio decode rate is covered
    # by multimodal_decode/headers in the bench
    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 0)
         .select(F.col("doc_id").alias("media_id"),
                 _wav("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# TIFF twin: identical arithmetic to the gif/mixed twins —
# LZW/PackBits/predictor/endian cycling exists only Spark-side
@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 24 + 1 AS INTEGER) AS width,
           CAST(doc_id % 16 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(list_sum(list_transform(
             range(0, (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             j -> (doc_id * 13 + ((doc_id * 7 + j * 11) % 64) * 5) % 256
                + (doc_id * 17 + ((doc_id * 7 + j * 11) % 64) * 3) % 256
                + (doc_id * 19 + ((doc_id * 7 + j * 11) % 64) * 7) % 256))
             / (3.0 * (n_chars % 24 + 1) * (doc_id % 16 + 1)),
             6) AS mean_pixel
    FROM documents
""")
def multimodal_tiff(spark, sf_dir):
    """REAL TIFF decode, hash-gated: one corpus whose payloads cycle
    compression None/LZW/PackBits/Deflate by (doc_id//4)%4 (quotient
    cycling decorrelates from the %4 strip cycle), horizontal-differencing
    predictor for even ids, big-endian every 5th, multi-strip every
    4th, PLANAR (PlanarConfiguration=2) every 7th, and 16-BIT samples
    every 6th (stored as v*257 so the high-byte downconversion
    returns the same closed form) — all decoding the SAME closed-form
    palette pixels as the gif/mixed gates, so one arithmetic DuckDB
    twin covers the whole frame and the compression/predictor/endian/
    planar/depth machinery exists only on the Spark side (a hash
    match proves the early-change LZW, the PackBits runs, the IFD
    walk, the plane reassembly and the predictor undo end to end)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_tiff, decode_image

    @pandas_udf("binary")
    def _tif(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 24 + 1, i % 16 + 1
            j = np.arange(w * h, dtype=np.int64)
            p = (i * 7 + j * 11) % 64
            px = np.stack([(i * 13 + p * 5) % 256,
                           (i * 17 + p * 3) % 256,
                           (i * 19 + p * 7) % 256],
                          axis=1).astype(np.uint8).reshape(h, w, 3)
            if i % 6 == 0:
                px = px.astype(np.uint16) * 257
            out.append(_encode_tiff(
                px, compression=(1, 5, 32773, 8)[(i // 4) % 4],
                predictor=2 if i % 2 == 0 else 1,
                big_endian=i % 5 == 0,
                rows_per_strip=3 if i % 4 == 0 else None,
                planar=2 if i % 7 == 0 else 1))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _tif("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# G.711 twin: replay the CCITT expansion bit arithmetic in SQL
# (u-law: complement + biased mantissa shift; A-law: xor 0x55 +
# segment unfold). Every decoded value is a dyadic rational, so
# the stat sums are exact in double on both engines.
@query("""
    WITH v AS (
      SELECT doc_id, 200 + doc_id % 89 AS n,
             list_transform(range(0, 200 + doc_id % 89),
               j -> (doc_id * 31 + j * 7) % 256) AS bs
      FROM documents WHERE doc_id % 10 = 5),
    d AS (
      SELECT doc_id, n,
             CASE WHEN doc_id % 2 = 0 THEN
               list_transform(bs, b -> CASE WHEN b < 128
                 THEN 132 - (((255 - b) % 16) * 8 + 132)
                      * (1 << (((255 - b) // 16) % 8))
                 ELSE (((255 - b) % 16) * 8 + 132)
                      * (1 << (((255 - b) // 16) % 8)) - 132
                 END)
             ELSE
               list_transform(bs, b -> CASE WHEN xor(b, 85) >= 128
                 THEN (CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                         THEN (xor(b, 85) % 16) * 16 + 8
                       WHEN ((xor(b, 85) // 16) % 8) = 1
                         THEN (xor(b, 85) % 16) * 16 + 264
                       ELSE ((xor(b, 85) % 16) * 16 + 264)
                            * (1 << (((xor(b, 85) // 16) % 8) - 1))
                       END)
                 ELSE -(CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                         THEN (xor(b, 85) % 16) * 16 + 8
                       WHEN ((xor(b, 85) // 16) % 8) = 1
                         THEN (xor(b, 85) % 16) * 16 + 264
                       ELSE ((xor(b, 85) % 16) * 16 + 264)
                            * (1 << (((xor(b, 85) // 16) % 8) - 1))
                       END)
                 END)
             END AS vs
      FROM v)
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
           round((list_sum(vs) / 32768.0) / n, 6) AS mean_amp,
           round(sqrt((list_sum(list_transform(vs,
               x -> CAST(x * x AS DOUBLE))) / 1073741824.0) / n),
               6) AS rms,
           round(list_max(list_transform(vs, x -> abs(x)))
                 / 32768.0, 6) AS peak
    FROM d
""")
def multimodal_g711(spark, sf_dir):
    """REAL ITU-T G.711 telephony decode, hash-gated: synthesize
    8-bit companded mono WAV per doc — µ-law (format code 7) for even
    ids, A-law (code 6) for odd — with closed-form byte patterns, run
    the actual expansion tables (_g711_tables), and emit sample stats
    the DuckDB twin recomputes by replaying the SAME integer bit
    arithmetic (complement/xor, mantissa shift, segment unfold) in
    SQL: every value is a dyadic rational, so sums are exact in
    double and the one division + sqrt round identically."""
    import struct as _struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_audio

    @pandas_udf("binary")
    def _wav(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            n = 200 + i % 89
            j = np.arange(n, dtype=np.int64)
            data = ((i * 31 + j * 7) % 256).astype(np.uint8).tobytes()
            code = 7 if i % 2 == 0 else 6
            out.append(
                b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + _struct.pack("<IHHIIHH", 16, code, 1, 8000,
                                         8000, 1, 8)
                + b"data" + _struct.pack("<I", len(data)) + data)
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 5)
         .select(F.col("doc_id").alias("media_id"),
                 _wav("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# 16-bit mono WAV with samples (doc_id*31 + j*7) % 2001 - 1000;
# integer sums are exact in double and /2^15, sqrt are
# correctly rounded, so stats match the numpy decoder exactly.
# AIFF twin: same exact-integer arithmetic as the WAV twin —
# the IFF walk, 80-bit-float rate, and sowt byte order exist
# only Spark-side
@query("""
    WITH v AS (
      SELECT doc_id, 300 + doc_id % 83 AS n,
             list_transform(range(0, 300 + doc_id % 83),
               j -> (doc_id * 37 + j * 11) % 1801 - 900) AS vs
      FROM documents WHERE doc_id % 10 = 4)
    SELECT doc_id AS media_id,
           CAST(11025 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 11025 AS BIGINT) AS duration_ms,
           round((list_sum(vs) / CAST(n AS DOUBLE)) / 32768, 6)
             AS mean_amp,
           round(sqrt(list_sum(list_transform(vs,
               x -> CAST(x * x AS DOUBLE))) / n) / 32768, 6) AS rms,
           round(list_max(list_transform(vs, x -> abs(x)))
                 / 32768.0, 6) AS peak
    FROM v
""")
def multimodal_aiff(spark, sf_dir):
    """REAL AIFF decode, hash-gated: synthesize a big-endian AIFF per
    doc with a closed-form 16-bit sample pattern — every 3rd doc as
    AIFF-C 'sowt' (little-endian pass-through), so both byte orders
    sit under one arithmetic twin — decode via the IFF walk (COMM
    80-bit-float rate, SSND offset header) and emit sample stats the
    DuckDB oracle recomputes exactly (integer sums exact in double)."""
    import struct as _struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_audio

    @pandas_udf("binary")
    def _aiff(doc_id: pd.Series) -> pd.Series:
        # 11025 Hz as an 80-bit extended float (exp 13, 64-bit mant)
        f80 = bytes([0x40, 0x0C]) + (11025 << 50).to_bytes(8, "big")
        out = []
        for i in doc_id:
            i = int(i)
            n = 300 + i % 83
            j = np.arange(n, dtype=np.int64)
            v = ((i * 37 + j * 11) % 1801 - 900)
            sowt = i % 3 == 0
            data = v.astype("<i2" if sowt else ">i2").tobytes()
            comm_body = _struct.pack(">HIH", 1, n, 16) + f80
            if sowt:
                comm_body += b"sowt" + b"\x0epcm\x00"
                form_t = b"AIFC"
            else:
                form_t = b"AIFF"
            comm = b"COMM" + _struct.pack(">I", len(comm_body)) \
                + comm_body + (b"\x00" if len(comm_body) & 1 else b"")
            ssnd_body = _struct.pack(">II", 0, 0) + data
            ssnd = b"SSND" + _struct.pack(">I", len(ssnd_body)) \
                + ssnd_body
            form = form_t + comm + ssnd
            out.append(b"FORM" + _struct.pack(">I", len(form)) + form)
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 4)
         .select(F.col("doc_id").alias("media_id"),
                 _aiff("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# Sun .au twin: 24-byte BE header + BE samples Spark-side only
@query("""
    WITH v AS (
      SELECT doc_id, 250 + doc_id % 71 AS n,
             list_transform(range(0, 250 + doc_id % 71),
               j -> (doc_id * 43 + j * 13) % 1601 - 800) AS vs
      FROM documents WHERE doc_id % 10 = 6)
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
           round((list_sum(vs) / CAST(n AS DOUBLE)) / 32768, 6)
             AS mean_amp,
           round(sqrt(list_sum(list_transform(vs,
               x -> CAST(x * x AS DOUBLE))) / n) / 32768, 6) AS rms,
           round(list_max(list_transform(vs, x -> abs(x)))
                 / 32768.0, 6) AS peak
    FROM v
""")
def multimodal_au(spark, sf_dir):
    """REAL Sun .au decode, hash-gated: 16-bit big-endian linear PCM
    (encoding 3) with a closed-form sample pattern per doc; the
    24-byte header walk and the BE sample read sit under the same
    exact-integer arithmetic twin as the WAV/AIFF gates (the µ-law
    path shares the G.711 tables already gated by multimodal_g711)."""
    import struct as _struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_audio

    @pandas_udf("binary")
    def _au(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            n = 250 + i % 71
            j = np.arange(n, dtype=np.int64)
            v = ((i * 43 + j * 13) % 1601 - 800).astype(">i2")
            data = v.tobytes()
            out.append(b".snd" + _struct.pack(
                ">IIIII", 24, len(data), 3, 8000, 1) + data)
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 6)
         .select(F.col("doc_id").alias("media_id"),
                 _au("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# IMA4 twin: the ENTIRE quantize/reconstruct state machine —
# 9-bit preamble resync at each 64-frame packet boundary, the
# 89-entry public IMA step table, the nibble threshold search
# and the mirrored predictor/index update — replayed as a
# recursive CTE (the sequential-codec sibling of the
# unrolled-CTE graph twins), one step per decoded sample.
@query("""
    WITH RECURSIVE
    steps AS (SELECT * FROM (VALUES
      (0,7),(1,8),(2,9),(3,10),(4,11),(5,12),(6,13),(7,14),(8,16),(9,17),
      (10,19),(11,21),(12,23),(13,25),(14,28),(15,31),(16,34),(17,37),(18,41),(19,45),
      (20,50),(21,55),(22,60),(23,66),(24,73),(25,80),(26,88),(27,97),(28,107),(29,118),
      (30,130),(31,143),(32,157),(33,173),(34,190),(35,209),(36,230),(37,253),(38,279),(39,307),
      (40,337),(41,371),(42,408),(43,449),(44,494),(45,544),(46,598),(47,658),(48,724),(49,796),
      (50,876),(51,963),(52,1060),(53,1166),(54,1282),(55,1411),(56,1552),(57,1707),(58,1878),(59,2066),
      (60,2272),(61,2499),(62,2749),(63,3024),(64,3327),(65,3660),(66,4026),(67,4428),(68,4871),(69,5358),
      (70,5894),(71,6484),(72,7132),(73,7845),(74,8630),(75,9493),(76,10442),(77,11487),(78,12635),(79,13899),
      (80,15289),(81,16818),(82,18500),(83,20350),(84,22385),(85,24623),(86,27086),(87,29794),(88,32767)
    ) t(ix, step)),
    docs AS (SELECT doc_id AS i,
                    192 + ((doc_id // 10) % 5) * 64 AS n
             FROM documents WHERE doc_id % 10 = 8),
    walk AS (
      SELECT i, n, 0 AS j, 0 AS p, 0 AS ix,
             CAST(0 AS DOUBLE) AS ssum, CAST(0 AS DOUBLE) AS ssq,
             0 AS smax
      FROM docs
      UNION ALL
      SELECT w.i, w.n, w.j + 1, np.p2, np.ix2,
             w.ssum + np.p2, w.ssq + CAST(np.p2 AS DOUBLE) * np.p2,
             GREATEST(w.smax, ABS(np.p2))
      FROM walk w
      CROSS JOIN LATERAL (
        WITH s0 AS (
          SELECT CASE WHEN w.j % 64 = 0
                      THEN CAST(FLOOR(CAST(w.p AS DOUBLE) / 128)
                                AS INTEGER) * 128
                      ELSE w.p END AS psync,
                 CAST((w.i * 37 + w.j * 23) % 2401 - 1200
                      AS INTEGER) AS v
        ), s1 AS (
          SELECT psync, v, st.step,
                 CASE WHEN v < psync THEN 8 ELSE 0 END AS nsign,
                 ABS(v - psync) AS ad
          FROM s0 JOIN steps st ON st.ix = w.ix
        ), s2 AS (
          SELECT *,
                 CASE WHEN ad >= step THEN 4 ELSE 0 END AS n4,
                 CASE WHEN ad >= step THEN ad - step ELSE ad END AS ad1
          FROM s1
        ), s3 AS (
          SELECT *,
                 CASE WHEN ad1 >= step // 2 THEN 2 ELSE 0 END AS n2,
                 CASE WHEN ad1 >= step // 2 THEN ad1 - step // 2
                      ELSE ad1 END AS ad2
          FROM s2
        ), s4 AS (
          SELECT *,
                 CASE WHEN ad2 >= step // 4 THEN 1 ELSE 0 END AS n1
          FROM s3
        ), s5 AS (
          SELECT step // 8 + n1 * (step // 4)
                   + (n2 // 2) * (step // 2) + (n4 // 4) * step AS d,
                 psync, nsign, n4, n2, n1
          FROM s4
        )
        SELECT LEAST(32767, GREATEST(-32768,
                 CASE WHEN nsign = 8 THEN psync - d
                      ELSE psync + d END)) AS p2,
               LEAST(88, GREATEST(0, w.ix +
                 CASE (n4 + n2 + n1)
                   WHEN 0 THEN -1 WHEN 1 THEN -1
                   WHEN 2 THEN -1 WHEN 3 THEN -1
                   WHEN 4 THEN 2 WHEN 5 THEN 4
                   WHEN 6 THEN 6 WHEN 7 THEN 8
                 END)) AS ix2
        FROM s5
      ) np
      WHERE w.j < w.n
    )
    SELECT i AS media_id,
           CAST(22050 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 22050 AS BIGINT) AS duration_ms,
           round((ssum / n) / 32768, 6) AS mean_amp,
           round(sqrt(ssq / n) / 32768, 6) AS rms,
           round(CAST(smax AS DOUBLE) / 32768, 6) AS peak
    FROM walk WHERE j = n
""")
def multimodal_ima4(spark, sf_dir):
    """REAL Apple QuickTime IMA4 ADPCM decode (AIFF-C 'ima4',
    round 7), hash-gated at every SF: per doc, a closed-form int16
    signal (64-multiple frame counts, so no padding ambiguity) is
    compressed to 34-byte IMA4 packets, wrapped in an AIFF-C
    container, and decoded by the real packet walk
    (:func:`_ima4_decode` — 9-bit preamble predictor resync, step
    and index table state machine). The DuckDB twin REPLAYS the
    entire quantize/reconstruct state walk as a recursive CTE over
    the public IMA step tables — the sequential-codec sibling of the
    unrolled-CTE graph twins — so the sample statistics match
    value-for-value, not just structurally."""
    import struct as _struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_ima4, decode_audio

    @pandas_udf("binary")
    def _aifc(doc_id: pd.Series) -> pd.Series:
        # 22050 Hz as an 80-bit extended float (exp 0x400D, 15-bit
        # integer part at the top of the 64-bit mantissa)
        f80 = bytes([0x40, 0x0D]) + (22050 << 49).to_bytes(8, "big")
        out = []
        for i in doc_id:
            i = int(i)
            # variant parity from i // 10: a % 10 subset makes i % 5
            # constant (the closed-form-fixture trap in the verify
            # skill), so the frame-count cycle must use the quotient
            n = 192 + ((i // 10) % 5) * 64
            j = np.arange(n, dtype=np.int64)
            v = ((i * 37 + j * 23) % 2401 - 1200).astype(np.int16)
            packets = _encode_ima4(v, 1)
            comm_body = (_struct.pack(">HIH", 1, n, 16) + f80
                         + b"ima4" + b"\x0bIMA 4:1\x00\x00\x00\x00")
            comm = b"COMM" + _struct.pack(">I", len(comm_body)) \
                + comm_body + (b"\x00" if len(comm_body) & 1 else b"")
            ssnd_body = _struct.pack(">II", 0, 0) + packets
            ssnd = b"SSND" + _struct.pack(">I", len(ssnd_body)) \
                + ssnd_body
            form = b"AIFC" + comm + ssnd
            out.append(b"FORM" + _struct.pack(">I", len(form)) + form)
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 8)
         .select(F.col("doc_id").alias("media_id"),
                 _aifc("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# 16-bit palette TIFF twin: palette arithmetic on the raw
# 16-bit indices — container, IFD, 2^16-entry ColorMap and
# the pre-downconversion lookup exist only Spark-side
@query("""
    SELECT doc_id AS media_id,
           CAST(16 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           round(list_sum(list_transform(range(0, 128),
             j -> (((doc_id * 13 + j * 31) % 65536) * 3 + 11) % 256
                + (((doc_id * 13 + j * 31) % 65536) * 5 + 29) % 256
                + (((doc_id * 13 + j * 31) % 65536) * 7 + 3) % 256))
             / (3.0 * 128), 6) AS mean_pixel
    FROM documents WHERE doc_id % 10 = 3
""")
def multimodal_tiff_pal16(spark, sf_dir):
    """REAL 16-bit palette TIFF decode (round 7): fixed 16×8 frames
    whose 16-bit sample values index a full 2^16-entry ColorMap
    (TIFF 6.0 §23) with closed-form channel ramps — the raw-index
    lookup path that must run BEFORE the 16→8 downconversion. The
    constant header/IFD/ColorMap prefix is templated once per batch
    (the per-doc payload is a strip splice), keeping the 384 KB
    ColorMap from being re-serialized per row; the DuckDB twin
    recomputes the palette arithmetic exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import _encode_tiff, decode_image

    W, H = 16, 8

    @pandas_udf("binary")
    def _tif(doc_id: pd.Series) -> pd.Series:
        k = np.arange(65536, dtype=np.int64)
        pal = np.stack([(k * 3 + 11) % 256, (k * 5 + 29) % 256,
                        (k * 7 + 3) % 256], axis=1).astype(np.uint8)
        tmpl = _encode_tiff(np.zeros((H, W, 1), np.uint16), palette=pal)
        nstrip = W * H * 2
        assert tmpl[-nstrip:] == b"\x00" * nstrip   # strips are last
        head = tmpl[:-nstrip]
        out = []
        for i in doc_id:
            i = int(i)
            j = np.arange(W * H, dtype=np.int64)
            idx = ((i * 13 + j * 31) % 65536).astype("<u2")
            out.append(head + idx.tobytes())
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 3)
         .select(F.col("doc_id").alias("media_id"),
                 _tif("doc_id").alias("payload")))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# VP8L is lossless, so the SAME arithmetic-twin pattern as
# multimodal_tiff covers all five encoder variants (the
# variant choice changes the bytes, never the pixels); the
# alpha branch mirrors the every-4th-doc RGBA payloads.
@query("""
    SELECT doc_id AS media_id,
           CAST(n_chars % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 14 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END
                AS INTEGER) AS channels,
           round(list_sum(list_transform(
             range(0, (n_chars % 21 + 1) * (doc_id % 14 + 1)),
             j -> (doc_id * 13 + ((doc_id * 7 + j * 11) % 64) * 5) % 256
                + (doc_id * 17 + ((doc_id * 7 + j * 11) % 64) * 3) % 256
                + (doc_id * 19 + ((doc_id * 7 + j * 11) % 64) * 7) % 256
                + CASE WHEN doc_id % 4 = 0
                    THEN (doc_id * 23
                          + ((doc_id * 7 + j * 11) % 64) * 13) % 256
                    ELSE 0 END))
             / (CASE WHEN doc_id % 4 = 0 THEN 4.0 ELSE 3.0 END
                * (n_chars % 21 + 1) * (doc_id % 14 + 1)),
             6) AS mean_pixel
    FROM documents
""")
def multimodal_webp(spark, sf_dir):
    """REAL lossless-WebP (VP8L) decode, hash-gated (round 8):
    closed-form palette pixels (same family as the tiff/gif gates)
    encoded through encode_webp_lossless cycling ALL FIVE encoder
    variants by doc_id%5 — plain literal coding / subtract-green /
    predictor / color-transform / palette with packed sub-pixels —
    and RGBA (VP8L alpha) every 4th doc, then decoded by the
    pure-stdlib VP8L decoder (meza_spark/llm/webp.py, bit-exact
    against the system libwebp in tests/test_webp_crossimpl_parity).
    Lossless end to end, so one arithmetic DuckDB twin covers the
    whole transform/entropy machinery at every SF."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_image
    from meza_spark.llm.webp import encode_webp_lossless

    variants = (None, "subtract_green", "predictor", "color", "palette")

    @pandas_udf("binary")
    def _webp(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 21 + 1, i % 14 + 1
            j = np.arange(w * h, dtype=np.int64)
            p = (i * 7 + j * 11) % 64
            chans = [(i * 13 + p * 5) % 256, (i * 17 + p * 3) % 256,
                     (i * 19 + p * 7) % 256]
            if i % 4 == 0:
                chans.append((i * 23 + p * 13) % 256)
            px = np.stack(chans, axis=1).astype(np.uint8) \
                .reshape(h, w, len(chans))
            out.append(encode_webp_lossless(px, transform=variants[i % 5]))
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _webp("doc_id", "n_chars").alias("payload"))
    out = decode_image(d)
    return out.select("media_id", "width", "height", "channels",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# Animated-WebP twin (r8): same sum-algebra pattern as the
# APNG twin above, with the patch at the ANMF-legal even
# offset (2,2) — canvas position (2 + j//pw)*w + (2 + j%pw).
# ts_ms are cumulative frame START times (0, d0, d0+d1).
@query("""
    WITH g AS (
      SELECT doc_id AS i,
             (n_chars % 20 + 6) AS w, (doc_id % 12 + 4) AS h,
             (n_chars % 20 + 6) // 2 AS pw,
             (doc_id % 12 + 4) // 2 AS ph
      FROM documents WHERE doc_id % 5 = 2
    ), s AS (
      SELECT i, w, h, pw, ph, 4 * w * h AS denom,
        list_sum(list_transform(range(0, w * h), j ->
          (i*7 + j*11) % 256 + (i*11 + j*5) % 256
          + (i*3 + j*13) % 256 + 255)) AS s1,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0 THEN
            (i*7 + ((2 + j // pw) * w + 2 + j % pw) * 11) % 256
          + (i*11 + ((2 + j // pw) * w + 2 + j % pw) * 5) % 256
          + (i*3 + ((2 + j // pw) * w + 2 + j % pw) * 13) % 256
          + 255 ELSE 0 END)) AS sr1nt,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0
          THEN 3 * ((i*17 + j*7) % 256) + 255
          ELSE 0 END)) AS sp2nt,
        list_sum(list_transform(range(0, pw * ph), j ->
          CASE WHEN (j // pw + j % pw) % 3 <> 0
          THEN 3 * ((i*17 + j*7) % 256) + 255
          ELSE
            (i*7 + ((2 + j // pw) * w + 2 + j % pw) * 11) % 256
          + (i*11 + ((2 + j // pw) * w + 2 + j % pw) * 5) % 256
          + (i*3 + ((2 + j // pw) * w + 2 + j % pw) * 13) % 256
          + 255 END)) AS sreg2,
        list_sum(list_transform(range(0, pw * ph), j ->
          3 * ((i*19 + j*5) % 256)
          + (i*29 + j*3) % 256)) AS sp3,
        (i % 10) * 10 AS d0, ((i + 3) % 10) * 10 AS d1
      FROM g
    )
    SELECT i AS media_id, CAST(0 AS INTEGER) AS frame_idx,
           CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           round(CAST(s1 AS DOUBLE) / denom, 6) AS mean_pixel
    FROM s
    UNION ALL
    SELECT i, CAST(1 AS INTEGER), CAST(d0 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s1 - sr1nt + sp2nt AS DOUBLE) / denom, 6)
    FROM s
    UNION ALL
    SELECT i, CAST(2 AS INTEGER), CAST(d0 + d1 AS BIGINT),
           CAST(w AS INTEGER), CAST(h AS INTEGER),
           round(CAST(s1 - sr1nt + sp2nt - sreg2 + sp3
                      AS DOUBLE) / denom, 6)
    FROM s
""")
def multimodal_webp_anim(spark, sf_dir):
    """REAL animated-WebP decode (decode_video → ANMF walk +
    per-frame VP8L decode + canvas compositing), hash-gated by an
    arithmetic DuckDB twin mirroring multimodal_apng: 3 frames per
    doc — a full closed-form RGBA canvas (replace), an OVER-blended
    patch with BINARY alpha at the even offset (2,2) (255 replaces
    exactly, 0 keeps exactly — float compositing becomes exact
    integer algebra), then a replace-blended patch with closed-form
    alpha — plus closed-form durations feeding the cumulative start
    timestamps."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_video
    from meza_spark.llm.webp import encode_webp_anim

    @pandas_udf("binary")
    def _anim(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            i, n = int(i), int(n)
            w, h = n % 20 + 6, i % 12 + 4
            pw, ph = w // 2, h // 2
            j = np.arange(w * h, dtype=np.int64)
            f1 = np.zeros((h, w, 4), np.uint8)
            f1[:, :, 0] = ((i * 7 + j * 11) % 256).reshape(h, w)
            f1[:, :, 1] = ((i * 11 + j * 5) % 256).reshape(h, w)
            f1[:, :, 2] = ((i * 3 + j * 13) % 256).reshape(h, w)
            f1[:, :, 3] = 255
            j2 = np.arange(pw * ph, dtype=np.int64)
            p2 = np.zeros((ph, pw, 4), np.uint8)
            v2 = ((i * 17 + j2 * 7) % 256).reshape(ph, pw)
            p2[:, :, 0] = p2[:, :, 1] = p2[:, :, 2] = v2
            p2[:, :, 3] = np.where(
                ((j2 // pw + j2 % pw) % 3 != 0).reshape(ph, pw),
                255, 0)
            p3 = np.zeros((ph, pw, 4), np.uint8)
            v3 = ((i * 19 + j2 * 5) % 256).reshape(ph, pw)
            p3[:, :, 0] = p3[:, :, 1] = p3[:, :, 2] = v3
            p3[:, :, 3] = ((i * 29 + j2 * 3) % 256).reshape(ph, pw)
            d0, d1 = (i % 10) * 10, ((i + 3) % 10) * 10
            out.append(encode_webp_anim(
                [f1, p2, p3], delays_ms=[d0, d1, ((i + 7) % 10) * 10],
                blends=[False, True, False],
                offsets=[(0, 0), (2, 2), (2, 2)], canvas=(w, h)))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 5 == 2)
         .select(F.col("doc_id").alias("media_id"),
                 _anim("doc_id", "n_chars").alias("payload")))
    out = decode_video(d)
    return out.select("media_id", "frame_idx", "ts_ms", "width",
                      "height",
                      F.round("mean_pixel", 6).alias("mean_pixel"))


# FLAC twin (r8): lossless codec, so the closed-form stereo
# signal's stats replay exactly — every integer square is
# <= 2^30 and the sums < 2^40, exact in double; the
# subframe/Rice/decorrelation cycling exists only Spark-side.
@query("""
    WITH v AS (
      SELECT doc_id, 300 + doc_id % 89 AS n,
             list_transform(range(0, 300 + doc_id % 89),
               j -> (doc_id * 41 + j * 17) % 32768 - 16384)
               AS c0,
             list_transform(range(0, 300 + doc_id % 89),
               j -> (doc_id * 23 + j * 29) % 32768 - 16384)
               AS c1
      FROM documents WHERE doc_id % 10 = 6)
    SELECT doc_id AS media_id,
           CAST(12000 AS INTEGER) AS sample_rate,
           CAST(2 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 12000 AS BIGINT) AS duration_ms,
           round((list_sum(c0) + list_sum(c1))
                 / 32768.0 / (2 * n), 6) AS mean_amp,
           round(sqrt((list_sum(list_transform(c0,
                   x -> CAST(x * x AS DOUBLE)))
                 + list_sum(list_transform(c1,
                   x -> CAST(x * x AS DOUBLE))))
                 / 1073741824.0 / (2 * n)), 6) AS rms,
           round(greatest(
               list_max(list_transform(c0, x -> abs(x))),
               list_max(list_transform(c1, x -> abs(x))))
               / 32768.0, 6) AS peak
    FROM v
""")
def multimodal_flac(spark, sf_dir):
    """REAL FLAC decode (round 8), hash-gated: one closed-form stereo
    int16 signal per doc, encoded through encode_flac cycling the
    subframe machinery — fixed predictor order i%5 (verbatim when 0
    warmup would be degenerate), Rice parameter width by i%2, stereo
    decorrelation cycling none/left-side/right-side/mid-side by
    (i//10)%4 — then decoded by the full spec decoder (Rice unary
    walk, predictor reconstruction, decorrelation undo, CRC-8/16 +
    MD5 ladder). Lossless, so one arithmetic DuckDB twin covers every
    variant: the cycling exists only Spark-side, which is exactly
    what the hash proves."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.flac import encode_flac
    from meza_spark.llm.multimodal import decode_audio

    modes = (None, "left_side", "right_side", "mid_side")

    @pandas_udf("binary")
    def _flac(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            n = 300 + i % 89
            j = np.arange(n, dtype=np.int64)
            ch0 = (i * 41 + j * 17) % 32768 - 16384
            ch1 = (i * 23 + j * 29) % 32768 - 16384
            out.append(encode_flac(
                np.stack([ch0, ch1], axis=1), rate=12000,
                subframe="fixed" if i % 5 else "verbatim",
                order=i % 5, rice_method=i % 2,
                stereo_mode=modes[(i // 10) % 4]))
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 6)
         .select(F.col("doc_id").alias("media_id"),
                 _flac("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels",
                      "n_samples", "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# deep-bit PCM twin: one arithmetic over the shared closed
# form — 24-bit WAV/AIFF and 32-bit .au carry the SAME
# normalized samples by construction ((v·2^8)/2^31 ≡ v/2^23)
@query("""
    WITH v AS (
      SELECT doc_id, 300 + doc_id % 89 AS n,
             list_transform(range(0, 300 + doc_id % 89),
               j -> (doc_id * 41 + j * 17) % 4194304 - 2097152)
               AS vs
      FROM documents WHERE doc_id % 10 = 5)
    SELECT doc_id AS media_id,
           CAST(12000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 12000 AS BIGINT) AS duration_ms,
           round((list_sum(vs) / CAST(n AS DOUBLE)) / 8388608, 6)
             AS mean_amp,
           round(sqrt(list_sum(list_transform(vs,
               x -> CAST(x * x AS DOUBLE))) / n) / 8388608, 6)
             AS rms,
           round(list_max(list_transform(vs, x -> abs(x)))
                 / 8388608.0, 6) AS peak
    FROM v
""")
def multimodal_pcm_deep(spark, sf_dir):
    """REAL deep-bit PCM decode (round 7): one closed-form signal in
    ±2^21 per doc, carried as 24-bit WAV (3-byte LE) for i//10%3==0,
    24-bit AIFF (3-byte BE) for ==1, and 32-bit .au (BE, values <<8 —
    the SAME normalized samples, since (v·2^8)/2^31 ≡ v/2^23) for
    ==2. One arithmetic DuckDB twin covers all three containers and
    both depths; integer squares stay ≤2^51, exact in double."""
    import struct as _struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import decode_audio

    @pandas_udf("binary")
    def _deep(doc_id: pd.Series) -> pd.Series:
        f80 = bytes([0x40, 0x0C]) + (12000 << 50).to_bytes(8, "big")
        out = []
        for i in doc_id:
            i = int(i)
            n = 300 + i % 89
            j = np.arange(n, dtype=np.int64)
            v = (i * 41 + j * 17) % 4194304 - 2097152
            kind = (i // 10) % 3
            if kind == 0:                      # 24-bit WAV LE
                data = b"".join(int(x).to_bytes(3, "little", signed=True)
                                for x in v)
                out.append(
                    b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 12000,
                                             36000, 3, 24)
                    + b"data" + _struct.pack("<I", len(data)) + data)
            elif kind == 1:                    # 24-bit AIFF BE
                data = b"".join(int(x).to_bytes(3, "big", signed=True)
                                for x in v)
                comm = _struct.pack(">HIH", 1, n, 24) + f80
                form = (b"AIFF"
                        + b"COMM" + _struct.pack(">I", len(comm)) + comm
                        + b"SSND" + _struct.pack(">I", 8 + len(data))
                        + _struct.pack(">II", 0, 0) + data)
                out.append(b"FORM" + _struct.pack(">I", len(form)) + form)
            else:                              # 32-bit .au BE, v<<8
                data = (v << 8).astype(">i4").tobytes()
                out.append(b".snd" + _struct.pack(
                    ">IIIII", 24, len(data), 5, 12000, 1) + data)
        return pd.Series(out)

    d = (spread(_t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 10 == 5)
         .select(F.col("doc_id").alias("media_id"),
                 _deep("doc_id").alias("payload")))
    out = decode_audio(d)
    return out.select("media_id", "sample_rate", "channels", "n_samples",
                      "duration_ms",
                      F.round("mean_amp", 6).alias("mean_amp"),
                      F.round("rms", 6).alias("rms"),
                      F.round("peak", 6).alias("peak"))


# one SQL text, two engines: runs verbatim through spark.sql AND the
# DuckDB oracle — the engine's full ANSI surface (joins, windows,
# QUALIFY-free rank filter) with zero dialect translation.
_SQL_WINDOW_RANK = """
    SELECT * FROM (
      SELECT n_name,
             year(o_orderdate) AS o_year,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,8))) AS DOUBLE) AS revenue,
             RANK() OVER (
               PARTITION BY year(o_orderdate)
               ORDER BY SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,8))) DESC, n_name
             ) AS rnk
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name, year(o_orderdate)
    ) t WHERE rnk <= 3
    ORDER BY o_year, rnk, n_name
"""


@query(_SQL_WINDOW_RANK)
def sql_window_rank(spark, sf_dir):
    """The spark.sql surface: top-3 supplier nations by revenue per
    year — the SAME SQL text executes on Spark (here) and DuckDB (the
    oracle), no dialect translation. meza has no SQL at all; the
    engine gets the full ANSI surface from Catalyst for free."""
    from meza_spark.session import load_tables

    load_tables(spark, sf_dir,
                ["lineitem", "orders", "supplier", "nation"])
    return spark.sql(_SQL_WINDOW_RANK)


@query(r"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tok,
             length(text) - length(regexp_replace(text,
               '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               AS n_alpha,
             len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x IN ('the','and','of','to','is'))) AS n_stop
      FROM documents),
    r AS (
      SELECT doc_id,
             CASE WHEN n_chars > 0
                  THEN CAST(n_punct AS DOUBLE)/n_chars
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tok > 0
                  THEN CAST(n_stop AS DOUBLE)/n_tok
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_tok > 0
                  THEN CAST(n_alpha AS DOUBLE)/n_tok
                  ELSE 0.0 END AS mean_word_len,
             n_chars
      FROM t),
    q AS (
      SELECT doc_id,
             (CASE WHEN n_chars >= 64 AND n_chars <= 100000
                   THEN CAST(0.4 AS DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN punct_ratio < 0.2
                     THEN CAST(0.2 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN stopword_ratio > 0.01
                     THEN CAST(0.2 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN mean_word_len >= 2.0
                          AND mean_word_len <= 12.0
                     THEN CAST(0.2 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END) AS quality
      FROM r)
    SELECT doc_id, quality FROM (
      SELECT doc_id, quality,
             round(pow(LEAST(1.0, GREATEST(0.0, quality)),
                       2.0), 6) AS rate
      FROM q)
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#3'), 1, 15)
          < CASE WHEN rate >= 1.0 THEN 'g'
                 ELSE printf('%015x',
                      CAST(floor(rate * 1152921504606846976.0)
                           AS BIGINT)) END
    ORDER BY doc_id
""")
def sample_quality(spark, sf_dir):
    """Quality-weighted deterministic sampling: score documents with
    the heuristic quality composite, keep each with probability
    quality² via md5-threshold coin flips — row-local, engine-exact."""
    from meza_spark.llm.sampling import quality_sample

    scored = tx.quality_score(_t(spark, sf_dir, "documents"))
    return (quality_sample(scored, "doc_id", "quality", gamma=2.0,
                           seed=3)
            .select("doc_id", "quality"))


@query("""
    WITH g AS (
      SELECT event_type,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bk,
             COUNT(*) AS n_events,
             MAX(value) AS max_value
      FROM events GROUP BY event_type, bk),
    span AS (SELECT event_type, MIN(bk) AS lo, MAX(bk) AS hi
             FROM g GROUP BY event_type),
    sc AS (SELECT event_type,
                  UNNEST(range(lo, hi + 1, 3600)) AS bk
           FROM span)
    SELECT sc.event_type, sc.bk AS bucket_s,
           last_value(g.n_events IGNORE NULLS) OVER (
             PARTITION BY sc.event_type ORDER BY sc.bk
             ROWS UNBOUNDED PRECEDING) AS n_events,
           last_value(g.max_value IGNORE NULLS) OVER (
             PARTITION BY sc.event_type ORDER BY sc.bk
             ROWS UNBOUNDED PRECEDING) AS max_value
    FROM sc LEFT JOIN g
      ON sc.event_type = g.event_type AND sc.bk = g.bk
    ORDER BY sc.event_type, bucket_s
""")
def resample_events(spark, sf_dir):
    """Gap-filled hourly resample per event type: missing hours
    materialize as rows, counts and running max fill forward — the
    time-series densify (scaffold generated from per-key spans, agg
    shuffle + one partitioned window)."""
    ev = _t(spark, sf_dir, "events")
    out = pr.resample(ev, "ts", "3600", keys="event_type",
                      aggs={"n_events": ("ts", "count"),
                            "max_value": ("value", "max")},
                      fill="ffill")
    return (out.select("event_type",
                       F.unix_timestamp("bucket_ts").alias("bucket_s"),
                       "n_events", "max_value")
            )


@query("""
    WITH g AS (
      SELECT event_type,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600
               AS bk,
             MAX(value) AS mv
      FROM events GROUP BY event_type, bk),
    span AS (SELECT event_type, MIN(bk) AS lo, MAX(bk) AS hi
             FROM g GROUP BY event_type),
    sc AS (SELECT event_type,
                  UNNEST(range(lo, hi + 1, 3600)) AS bk
           FROM span),
    j AS (
      SELECT sc.event_type, sc.bk, g.mv
      FROM sc LEFT JOIN g
        ON sc.event_type = g.event_type AND sc.bk = g.bk),
    w AS (
      SELECT event_type, bk, mv,
             last_value(mv IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bk
               ROWS UNBOUNDED PRECEDING) AS y0,
             last_value(CASE WHEN mv IS NOT NULL THEN bk END
                        IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bk
               ROWS UNBOUNDED PRECEDING) AS t0,
             first_value(mv IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bk
               ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING) AS y1,
             first_value(CASE WHEN mv IS NOT NULL THEN bk END
                         IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bk
               ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING) AS t1
      FROM j)
    SELECT event_type, bk AS bucket_s,
           round(CASE WHEN mv IS NOT NULL THEN mv
                      WHEN y0 IS NULL THEN y1
                      WHEN y1 IS NULL THEN y0
                      ELSE y0 + (y1 - y0) * (bk - t0)
                           / (t1 - t0) END, 6) AS max_value
    FROM w ORDER BY event_type, bucket_s
""")
def resample_linear(spark, sf_dir):
    """Linear-interpolation resample: per-type hourly grid with gaps
    filled by the line between neighboring observed buckets — two
    partitioned window passes, no Python."""
    ev = _t(spark, sf_dir, "events")
    out = pr.resample(ev, "ts", "3600", keys="event_type",
                      aggs={"max_value": ("value", "max")},
                      fill="linear")
    return (out.select("event_type",
                       F.unix_timestamp("bucket_ts").alias("bucket_s"),
                       F.round("max_value", 6).alias("max_value"))
            )


@query(r"""
    WITH urls AS (
      SELECT doc_id,
             'https://www.' || source ||
             CASE WHEN doc_id % 4 = 0 THEN '.co.uk'
                  ELSE '.com' END ||
             '/docs/' || lang || '/item' ||
             CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '?ref=feed'
                  ELSE '' END AS url
      FROM documents),
    feat AS (
      SELECT doc_id, url,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
               1)) AS host,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)',
               1) AS path
      FROM urls)
    SELECT doc_id, scheme, host,
           CASE WHEN regexp_matches(host,
                  '^\d{1,3}(\.\d{1,3}){3}$') THEN host
                WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                     IN ('co.uk','ac.uk','gov.uk','com.au',
                         'net.au','co.jp','com.br','co.in',
                         'com.cn','com.mx')
                     AND regexp_extract(host,
                       '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
                THEN regexp_extract(host,
                       '([^.]+\.[^.]+\.[^.]+)$', 1)
                ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1)
           END AS reg_domain,
           path,
           len(list_filter(string_split(path, '/'),
                           s -> s <> '')) AS path_depth,
           contains(url, '?') AS has_query,
           regexp_matches(host, '^\d{1,3}(\.\d{1,3}){3}$')
             AS is_ip_host
    FROM feat ORDER BY doc_id
""")
def url_features_docs(spark, sf_dir):
    """URL/domain filter keys: synthesize a deterministic URL per doc
    (both engines build the same string), then decompose it with
    row-local regexp — scheme/host/registrable-domain/path-depth."""
    from meza_spark.llm.url import url_features

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://www."), F.col("source"),
                 F.when(F.col("doc_id") % 4 == 0, F.lit(".co.uk"))
                 .otherwise(F.lit(".com")),
                 F.lit("/docs/"), F.col("lang"), F.lit("/item"),
                 F.col("doc_id").cast("string"),
                 F.when(F.col("doc_id") % 3 == 0, F.lit("?ref=feed"))
                 .otherwise(F.lit(""))).alias("url"))
    return (url_features(d)
            .select("doc_id", "scheme", "host", "reg_domain", "path",
                    "path_depth", "has_query", "is_ip_host")
            )


@query(r"""
    WITH pairs AS (
      SELECT DISTINCT doc_id AS _id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    idx AS (
      SELECT term, count(*) AS df,
             list_sort(list(_id)) AS p
      FROM pairs GROUP BY term
      HAVING count(*) >= 5)
    SELECT term, df,
           array_to_string(p[1:40], ',') AS postings,
           (df > 40) AS truncated
    FROM idx ORDER BY term
""")
def inverted_index_docs(spark, sf_dir):
    """Inverted-index build (llm/text.inverted_index): term → df +
    sorted posting list, min_df=5, postings capped at 40 (Zipf-head
    skew valve). Postings transport as comma-joined strings (array
    columns crash the driver canonicalizer)."""
    from meza_spark.llm.text import inverted_index

    d = _t(spark, sf_dir, "documents")
    idx = inverted_index(d, min_df=5, max_postings=40)
    return (idx.select("term", "df",
                       F.array_join(F.transform(
                           "postings",
                           lambda x: x.cast("string")), ",")
                       .alias("postings"),
                       "truncated")
            )


@query(r"""
    WITH pairs AS (
      SELECT doc_id AS _id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    dl AS (SELECT _id, count(*) AS dlen FROM pairs GROUP BY _id),
    st AS (SELECT count(*) AS N, sum(dlen) AS tot FROM dl),
    tf AS (
      SELECT _id, term, count(*) AS tf FROM pairs
      WHERE term IN ('join', 'merge', 'spark', 'window')
      GROUP BY _id, term),
    dfq AS (SELECT term, count(*) AS dfn FROM tf GROUP BY term),
    per AS (
      SELECT tf._id,
             ln(CAST(1.0 AS DOUBLE)
                + (CAST(N AS DOUBLE) - dfn + CAST(0.5 AS DOUBLE))
                  / (dfn + CAST(0.5 AS DOUBLE)))
             * (CAST(tf.tf AS DOUBLE)
                * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE)
                        * CAST(dlen AS DOUBLE)
                        / (CAST(tot AS DOUBLE)
                           / CAST(N AS DOUBLE))))) AS s
      FROM tf JOIN dfq USING (term) JOIN dl USING (_id)
           CROSS JOIN st),
    sc AS (
      SELECT _id AS doc_id, count(*) AS n_hits,
             round(CAST(sum(CAST(s AS DECIMAL(38,18)))
                        AS DOUBLE), 6) AS score
      FROM per GROUP BY _id)
    SELECT doc_id, n_hits, score FROM sc
    ORDER BY score DESC, doc_id LIMIT 25
""")
def bm25_search(spark, sf_dir):
    """BM25 ranked retrieval over documents for a fixed query
    (llm/text.bm25_topk): query-term filter rides the explode, tiny
    N/avgdl/df aggregates broadcast back, per-doc decimal score sum,
    TakeOrdered top-k. The DuckDB twin replays the same ln/arithmetic
    shapes (literals CAST AS DOUBLE — decimal-fold trap)."""
    from meza_spark.llm.text import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, "spark merge window join", k=25)


@query(r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(
               trim(lower(text)), '\s+'), x -> x <> '') AS ws,
             greatest(1, len(regexp_extract_all(
               text, '[.!?]+'))) AS n_sentences
      FROM documents),
    c AS (
      SELECT doc_id,
             CAST(n_sentences AS BIGINT) AS n_sentences,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(ws,
               x -> greatest(1, len(regexp_extract_all(
                      x, '[aeiouy]+'))))), 0) AS BIGINT)
               AS n_syllables
      FROM w)
    SELECT doc_id, n_sentences, n_words, n_syllables,
           CASE WHEN n_words > 0 THEN CAST(floor(
             (CAST(206.835 AS DOUBLE)
              - CAST(1.015 AS DOUBLE)
                * (CAST(n_words AS DOUBLE)
                   / CAST(n_sentences AS DOUBLE))
              - CAST(84.6 AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE)
                   / CAST(n_words AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) END AS flesch_micro,
           CASE WHEN n_words > 0 THEN CAST(floor(
             (CAST(0.39 AS DOUBLE)
              * (CAST(n_words AS DOUBLE)
                 / CAST(n_sentences AS DOUBLE))
              + CAST(11.8 AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE)
                   / CAST(n_words AS DOUBLE))
              - CAST(15.59 AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) END AS fk_grade_micro
    FROM c
    ORDER BY doc_id
""")
def readability_docs(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability features (llm/text.py
    readability): vowel-group syllable heuristic, fixed IEEE shapes
    over exact integer counts — the DuckDB twin rebuilds the same
    counts with list lambdas and replays the same arithmetic."""
    from meza_spark.llm.text import readability

    d = _t(spark, sf_dir, "documents")
    return (readability(d)
            .select("doc_id", "n_sentences", "n_words", "n_syllables",
                    "flesch_micro", "fk_grade_micro")
            )


@query("""
    SELECT l_orderkey AS o,
           l_linenumber AS ln,
           l_partkey AS pk,
           CAST(l_quantity AS DOUBLE) AS qty
    FROM lineitem
    ORDER BY o, ln, pk
""")
def json_normalize_lines(spark, sf_dir):
    """Semi-structured roundtrip: lineitem rows collect into one JSON
    document per order (deterministically sorted line array), then
    process.normalize_json parses and EXPLODES the array back to a
    child table — schema INFERRED from one sampled document. The
    oracle is simply the original rows: encode→normalize must be the
    identity."""
    from meza_spark.process import normalize_json

    li = _t(spark, sf_dir, "lineitem")
    docs = (li.groupBy("l_orderkey")
            .agg(F.to_json(F.struct(
                F.col("l_orderkey").alias("o"),
                F.sort_array(F.collect_list(F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_partkey").alias("pk"),
                    F.col("l_quantity").alias("qty")))).alias("lines")))
                 .alias("js")))
    # schema inference samples one document, which would re-run the
    # collect_list aggregation for the main pass — materialize once
    docs = lineage_cut(docs)
    return (normalize_json(docs, "js", "lines")
            )


@query("""
    WITH q AS (
      SELECT abs(CAST(o_totalprice AS DOUBLE)) AS y
      FROM orders WHERE o_totalprice IS NOT NULL),
    d AS (
      SELECT floor(y / pow(CAST(10.0 AS DOUBLE),
                           floor(log10(y)))) AS d0
      FROM q WHERE y > 0),
    o AS (
      SELECT CAST(CASE WHEN d0 >= 10 THEN 1
                       WHEN d0 <= 0 THEN 9
                       ELSE d0 END AS INTEGER) AS digit,
             count(*) AS n
      FROM d GROUP BY 1),
    c AS (
      SELECT CAST(g.digit AS INTEGER) AS digit,
             CAST(coalesce(o.n, 0) AS BIGINT) AS n
      FROM generate_series(1, 9) AS g(digit)
      LEFT JOIN o ON o.digit = g.digit),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT digit, n,
           CAST((n * 1000000) // tot AS BIGINT) AS share_micro,
           CAST(floor(log10(CAST(1.0 AS DOUBLE)
                + CAST(1.0 AS DOUBLE) / digit)
                * 1000000 + 0.5) AS BIGINT) AS benford_micro,
           CAST((n * 1000000) // tot AS BIGINT)
             - CAST(floor(log10(CAST(1.0 AS DOUBLE)
                 + CAST(1.0 AS DOUBLE) / digit)
                 * 1000000 + 0.5) AS BIGINT) AS deviation_micro
    FROM c CROSS JOIN t
    ORDER BY digit
""")
def benford_orders(spark, sf_dir):
    """Benford first-digit profile of order totals (profile.benford):
    digit from the quantized-integer STRING, share by integer
    division, log10 expectation micro-rounded — every column
    hash-gateable."""
    from meza_spark.profile import benford

    o = _t(spark, sf_dir, "orders")
    return benford(o, "o_totalprice")


@query("""
    WITH m AS (
      SELECT event_type,
             CAST(floor(quantile_cont(CAST(value AS DOUBLE), 0.5)
                  * 1000000 + 0.5) AS BIGINT) AS med_micro,
             quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
      FROM events GROUP BY event_type),
    a AS (
      SELECT e.event_id, e.event_type,
             CAST(floor(CAST(e.value AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS vq,
             abs(CAST(e.value AS DOUBLE) - m.med) AS adev,
             m.med_micro
      FROM events e JOIN m ON m.event_type = e.event_type),
    d AS (
      SELECT event_type,
             CAST(floor(quantile_cont(adev, 0.5)
                  * 1000000 + 0.5) AS BIGINT) AS mad_micro
      FROM a GROUP BY event_type)
    SELECT a.event_id, a.event_type, a.med_micro, d.mad_micro,
           (abs(a.vq - a.med_micro) > 3 * d.mad_micro)
             AS is_outlier
    FROM a JOIN d ON d.event_type = a.event_type
    ORDER BY a.event_id
""")
def robust_outliers_events(spark, sf_dir):
    """Median/MAD outlier report per event type (profile.
    robust_outliers): two interpolated-percentile passes + a row-local
    flag. Transport is micro-quantized — the true median/MAD of
    2-decimal values land on the exact 1/200 grid, so floor(x*1e6+0.5)
    absorbs any cross-engine interpolation ulp — and the flag is
    re-derived from the quantized integers in BOTH engines."""
    from meza_spark.profile import robust_outliers

    ev = _t(spark, sf_dir, "events")
    out = robust_outliers(ev, "value", by=["event_type"], k=3.0)
    vq = F.floor(F.col("value").cast("double") * 1000000 + F.lit(0.5)) \
        .cast("long")
    medq = F.floor(F.col("med") * 1000000 + F.lit(0.5)).cast("long")
    madq = F.floor(F.col("mad") * 1000000 + F.lit(0.5)).cast("long")
    return (out.select(
        "event_id", "event_type",
        medq.alias("med_micro"), madq.alias("mad_micro"),
        (F.abs(vq - medq) > 3 * madq).alias("is_outlier"))
        )


@query(r"""
    WITH b AS (
      SELECT doc_id,
             regexp_replace(
               'HTTPS://WWW.' || upper(source) || '.COM:443'
               || '/Docs/' || lang || '/item'
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=x&b=2&a=1'
                       WHEN doc_id % 3 = 1
                       THEN '?z=9&utm_campaign=c&a=1#frag'
                       ELSE '/' END,
               '#.*$', '') AS u
      FROM documents),
    p AS (
      SELECT doc_id,
        lower(regexp_extract(u,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_extract(u,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        regexp_replace(regexp_extract(u,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          '/+$', '') AS path,
        regexp_extract(u, '\?([^#]*)', 1) AS qs
      FROM b),
    h AS (
      SELECT doc_id, scheme, path, qs,
        regexp_replace(
          lower(regexp_replace(auth, ':[0-9]+$', '')),
          '^www\.', '') AS host,
        regexp_extract(auth, ':([0-9]+)$', 1) AS port
      FROM p),
    q AS (
      SELECT doc_id, scheme, host, path,
        CASE WHEN port <> ''
              AND NOT ((scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443'))
             THEN ':' || port ELSE '' END AS port_part,
        list_sort(list_filter(string_split(qs, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[^=]*|gclid|fbclid|msclkid|igshid|mc_cid|mc_eid|_ga|ref)(=|$)')))
          AS params
      FROM h)
    SELECT doc_id,
           scheme || '://' || host || port_part || path
           || CASE WHEN len(params) > 0
                   THEN '?' || array_to_string(params, '&')
                   ELSE '' END AS canonical_url
    FROM q
    ORDER BY doc_id
""")
def canonical_url_docs(spark, sf_dir):
    """URL canonicalization (llm/url.py canonical_url): synthesize a
    deliberately-messy URL per doc (uppercase scheme/host, default
    port, trailing slash, tracking params, fragment), canonicalize
    with row-local codegen string/array ops, and have the DuckDB twin
    replay every step with list lambdas."""
    from meza_spark.llm.url import canonical_url

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".COM:443"),
            F.lit("/Docs/"), F.col("lang"), F.lit("/item"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("?utm_source=x&b=2&a=1"))
            .when(F.col("doc_id") % 3 == 1,
                  F.lit("?z=9&utm_campaign=c&a=1#frag"))
            .otherwise(F.lit("/"))).alias("url"))
    return (canonical_url(d)
            .select("doc_id", "canonical_url")
            )


@query("""
    WITH a AS (
      SELECT LEAST(GREATEST(FLOOR((CAST(o_totalprice AS DOUBLE)
               - 0.0) / 60000.0), 0), 9) AS bucket,
             COUNT(*) AS n
      FROM orders WHERE o_orderpriority = '1-URGENT'
        AND o_totalprice IS NOT NULL
      GROUP BY bucket),
    b AS (
      SELECT LEAST(GREATEST(FLOOR((CAST(o_totalprice AS DOUBLE)
               - 0.0) / 60000.0), 0), 9) AS bucket,
             COUNT(*) AS n
      FROM orders WHERE o_orderpriority <> '1-URGENT'
        AND o_totalprice IS NOT NULL
      GROUP BY bucket),
    sc AS (SELECT UNNEST(range(0, 10)) AS bucket),
    j AS (
      SELECT sc.bucket,
             COALESCE(CAST(a.n AS DOUBLE)
                      / (SELECT SUM(n) FROM a), 0.0) AS frac_a,
             COALESCE(CAST(b.n AS DOUBLE)
                      / (SELECT SUM(n) FROM b), 0.0) AS frac_b
      FROM sc LEFT JOIN a ON sc.bucket = a.bucket
              LEFT JOIN b ON sc.bucket = b.bucket)
    SELECT bucket, frac_a, frac_b,
           0.0 + bucket * 60000.0 AS lo,
           0.0 + (bucket + 1) * 60000.0 AS hi,
           round((frac_a - frac_b)
                 * ln((frac_a + 1e-06) / (frac_b + 1e-06)), 6)
             AS psi
    FROM j ORDER BY bucket
""")
def psi_drift_price(spark, sf_dir):
    """PSI drift monitor: order-price distribution of urgent orders vs
    the rest — two scans, nbins-row aggregates, broadcast scaffold."""
    from meza_spark.profile import psi_drift

    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT")
    b = o.where(F.col("o_orderpriority") != "1-URGENT")
    return psi_drift(a, b, "o_totalprice", nbins=10,
                     lo=0.0, hi=600000.0)


# The synthesized payloads encode pure arithmetic of (doc_id,
# n_chars); recomputing it here gates the full
# struct.pack -> _parse_headers roundtrip.
@query("""
    SELECT doc_id AS media_id,
           CASE doc_id % 7 WHEN 0 THEN 'png'
                           WHEN 1 THEN 'gif'
                           WHEN 3 THEN 'jpeg'
                           WHEN 4 THEN 'avif'
                           WHEN 5 THEN 'heic'
                           WHEN 6 THEN 'svg'
                           ELSE 'wav' END AS format,
           CASE WHEN doc_id % 7 <> 2
                THEN CAST(n_chars % 500 + 1 AS INTEGER) END AS width,
           CASE WHEN doc_id % 7 <> 2
                THEN CAST(doc_id % 300 + 1 AS INTEGER) END AS height,
           CASE WHEN doc_id % 7 = 2
                THEN CAST(1 AS INTEGER)
                WHEN doc_id % 7 = 3
                THEN CAST(3 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 7 = 2
                THEN CAST(4000 AS INTEGER) END AS sample_rate,
           CASE WHEN doc_id % 7 = 2
                THEN CAST((n_chars % 2 + 1) * 1000 AS BIGINT)
                END AS duration_ms,
           CASE WHEN doc_id % 7 = 3
                THEN CAST(doc_id % 8 + 1 AS INTEGER)
                WHEN doc_id % 7 = 4 THEN
                -- the irot x imir -> EXIF equivalence table
                -- (rotation applied before mirroring, ISO
                -- 23008-12 order): rows keyed by mirror mode
                -- (doc_id//7)%3: 0 none, 1 vertical axis,
                -- 2 horizontal axis
                CAST(CASE (doc_id // 7) % 3
                  WHEN 0 THEN CASE (doc_id // 7) % 4
                    WHEN 0 THEN 1 WHEN 1 THEN 8
                    WHEN 2 THEN 3 ELSE 6 END
                  WHEN 1 THEN CASE (doc_id // 7) % 4
                    WHEN 0 THEN 2 WHEN 1 THEN 7
                    WHEN 2 THEN 4 ELSE 5 END
                  ELSE CASE (doc_id // 7) % 4
                    WHEN 0 THEN 4 WHEN 1 THEN 5
                    WHEN 2 THEN 2 ELSE 7 END
                END AS INTEGER)
                END AS orientation
    FROM documents ORDER BY doc_id
""")
def multimodal_headers(spark, sf_dir):
    """REAL container-header parse (stdlib byte logic, no Pillow):
    synthesize valid PNG/GIF/WAV payloads per doc (deterministic from
    doc_id/n_chars), then extract width/height/sample-rate/duration
    via the Arrow-batched header walker. Hash-gated (r3): the parsed
    fields are exactly the synthesizer's arithmetic on (doc_id,
    n_chars), so the DuckDB oracle computes them directly — gating the
    full struct.pack -> header-walk roundtrip. Round 8 widened the
    cycle to %4 with a JPEG carrying an EXIF APP1 whose Orientation
    tag is (doc_id%8)+1 — the phone-photo field a crawl pipeline must
    honor. Round 9 widens to %7: an AVIF shell whose irot/imir boxes
    cycle all 12 rotation×mirror combos (the oracle replays the
    EXIF-equivalence table), a transform-free HEIC shell (orientation
    NULL, like a JPEG without EXIF), and an SVG root tag. Byte-level
    edge cases stay unit-pinned in tests/test_multimodal.py and
    tests/test_pdf_heif_svg.py."""
    import struct

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from meza_spark.llm.multimodal import parse_media_headers

    def _bmff(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    @pandas_udf("binary")
    def _payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        out = []
        for i, n in zip(doc_id, n_chars):
            w, h = int(n) % 500 + 1, int(i) % 300 + 1
            if i % 7 == 0:
                out.append(b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13)
                           + b"IHDR" + struct.pack(">IIBBBBB", w, h,
                                                   8, 6, 0, 0, 0))
            elif i % 7 == 1:
                out.append(b"GIF89a" + struct.pack("<HH", w, h) + b"\0\0")
            elif i % 7 == 4:
                # AVIF shell: ftyp + meta/iprp/ipco with ispe and the
                # (i//7)-cycled irot/imir transform boxes
                rot, m3 = (int(i) // 7) % 4, (int(i) // 7) % 3
                props = _bmff(b"ispe", b"\x00" * 4
                              + struct.pack(">II", w, h))
                props += _bmff(b"irot", bytes([rot]))
                if m3:
                    props += _bmff(b"imir", bytes([m3 - 1]))
                out.append(_bmff(b"ftyp", b"avif\x00\x00\x00\x00avif")
                           + _bmff(b"meta", b"\x00" * 4
                                   + _bmff(b"iprp",
                                           _bmff(b"ipco", props))))
            elif i % 7 == 5:
                # HEIC shell, no transform boxes → orientation NULL
                props = _bmff(b"ispe", b"\x00" * 4
                              + struct.pack(">II", w, h))
                out.append(_bmff(b"ftyp", b"heic\x00\x00\x00\x00heic")
                           + _bmff(b"meta", b"\x00" * 4
                                   + _bmff(b"iprp",
                                           _bmff(b"ipco", props))))
            elif i % 7 == 6:
                out.append((f'<svg xmlns="http://www.w3.org/2000/svg" '
                            f'width="{w}" height="{h}"></svg>')
                           .encode("ascii"))
            elif i % 7 == 3:
                # JPEG header shell: SOI + EXIF APP1 (Orientation
                # (i%8)+1 in a one-entry IFD0) + SOF0 with 3 comps
                tiff = (b"II*\x00" + struct.pack("<I", 8)
                        + struct.pack("<H", 1)
                        + struct.pack("<HHIHH", 0x0112, 3, 1,
                                      int(i) % 8 + 1, 0)
                        + struct.pack("<I", 0))
                app1 = b"Exif\x00\x00" + tiff
                sof = struct.pack(">BHHB", 8, h, w, 3) \
                    + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
                out.append(b"\xff\xd8"
                           + b"\xff\xe1" + struct.pack(">H", 2 + len(app1))
                           + app1
                           + b"\xff\xc0" + struct.pack(">H", 2 + len(sof))
                           + sof)
            else:
                rate, sec = 4000, int(n) % 2 + 1
                data = b"\x00" * (rate * 2 * sec)
                out.append(
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                            rate * 2, 2, 16)
                    + b"data" + struct.pack("<I", len(data)) + data)
        return pd.Series(out)

    d = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"),
        _payload("doc_id", "n_chars").alias("payload"))
    return parse_media_headers(d)


@query("""
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS ws,
           event_type, COUNT(*) AS n, MAX(value) AS max_value
    FROM events GROUP BY 1, 2
""")
def stream_tumble_static(spark, sf_dir):
    """streaming.tumbling_window_agg run on a static frame — same
    window() expression the streaming path uses."""
    from meza_spark.streaming import tumbling_window_agg

    ev = _t(spark, sf_dir, "events")
    out = tumbling_window_agg(ev, "ts", "1 hour",
                              {"n": ("value", "count"),
                               "max_value": ("value", "max")},
                              keys=["event_type"])
    return out.select(F.unix_timestamp("window_start").alias("ws"),
                      "event_type", "n", "max_value")


@query("""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sess
      FROM g)
    SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS ss,
           COUNT(*) AS n, MAX(value) AS max_value
    FROM s GROUP BY user_id, sess
""")
def stream_session_static(spark, sf_dir):
    """streaming.session_window_agg on a static frame; oracle is the
    classic gaps-and-islands SQL."""
    from meza_spark.streaming import session_window_agg

    ev = _t(spark, sf_dir, "events")
    out = session_window_agg(ev, "ts", "1 hour", ["user_id"],
                             {"n": ("value", "count"),
                              "max_value": ("value", "max")})
    return out.select("user_id",
                      F.unix_timestamp("session_start").alias("ss"),
                      "n", "max_value")


@query("""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events GROUP BY user_id
""")
def grouped_apply(spark, sf_dir):
    import pandas as pd

    ev = _t(spark, sf_dir, "events")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "max_value": [pdf["value"].max()],
        })

    # project to the columns the UDF reads — applyInPandas ships every
    # input column through Arrow, so unused columns are pure transfer
    return pr.group(ev.select("user_id", "value"), "user_id", apply=stats,
                    schema="user_id bigint, n_events bigint, max_value double")


@query("""
    WITH p AS (SELECT user_id, ts, MAX(value) AS p_value
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id, ts)
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS p_ts_epoch,
           p.p_value
    FROM events e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND e.ts >= p.ts
""")
def join_asof(spark, sf_dir):
    """As-of join (beyond-reference, SURVEY §2.6): each event matched to
    the user's most recent purchase at-or-before it. Single-shuffle
    union+window plan — no range explosion."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("p_value")))
    left = ev.select("event_id", "user_id", "ts", "value")
    out = pr.asof_join(left, purchases, on="ts", by=["user_id"])
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.unix_timestamp("ts_right").alias("p_ts_epoch"), "p_value")


@query("""
    SELECT event_id, value, tier
    FROM events LEFT JOIN (VALUES (0.0, 25.0, 'low'),
                                  (25.0, 100.0, 'mid'),
                                  (100.0, 250.0, 'high'),
                                  (250.0, 1e18, 'top'))
         AS t(lo, hi, tier)
      ON value >= lo AND value < hi
""")
def join_range(spark, sf_dir):
    """Range join: events banded into value tiers via a broadcast
    nested-loop join against a tiny inline dim — the only sane physical
    plan for interval joins with a small band table."""
    ev = _t(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0.0, 25.0, "low"), (25.0, 100.0, "mid"),
         (100.0, 250.0, "high"), (250.0, 1e18, "top")],
        "lo double, hi double, tier string")
    j = pr.join(ev, tiers,
                on=(ev.value >= tiers.lo) & (ev.value < tiers.hi),
                how="left", broadcast=True)
    return j.select("event_id", "value", "tier")


@query("""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
    SELECT id_a, id_b,
           CAST(floor(c * 10000 + 0.5) AS BIGINT) AS cosine_e4
    FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE c >= 0.3
""")
def dedup_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact within `label` blocks
    (deterministic block_on variant of the LSH-bucketed path)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.embedding_near_dupes(emb, threshold=0.3, block_on="label",
                                   round_digits=None)
    # integer micro-units of the raw cosine (see embed_cosine_join)
    return out.select("id_a", "id_b",
                      F.floor(F.col("cosine") * 10000 + F.lit(0.5))
                      .cast("long").alias("cosine_e4"))


@query("""
    WITH RECURSIVE prs AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS c
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE c >= 0.3),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    reach(v, l) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e2.d, r.l FROM edges e2 JOIN reach r ON e2.s = r.v),
    labels AS (SELECT v, min(l) AS comp FROM reach GROUP BY v)
    SELECT em.vec_id, em.label
    FROM embeddings em JOIN labels lb ON em.vec_id = lb.v
    WHERE lb.comp = em.vec_id
""")
def dedup_near_embed_e2e(spark, sf_dir):
    """Embedding near-dup dedup end-to-end (records in → records out):
    exact cosine pairs within deterministic `label` blocks → connected
    components → keep min-vec_id per cluster. The embedding twin of
    dedup_near_e2e."""
    from meza_spark.llm.cluster import near_dedup

    emb = _t(spark, sf_dir, "embeddings")
    kept = near_dedup(emb, method="embedding", id_col="vec_id",
                      threshold=0.3, block_on="label")
    return kept.select("vec_id", "label")


@query("""
    SELECT event_id, user_id,
           FIRST_VALUE(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
    FROM events
""")
def fillempty_bfill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("value") < 10, None).otherwise(F.col("value")))
    filled = pr.fillempty(ev, method="back", fields=["value"],
                          order_by="event_id", partition_by=["user_id"])
    return filled.select("event_id", "user_id", "value")


@query("""
    SELECT c_custkey, c_name, c_mktsegment FROM (
      SELECT c_custkey, c_name, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY c_custkey % 97
               ORDER BY c_custkey, c_name, c_mktsegment) AS rn
      FROM customer)
    WHERE rn = 1
""")
def unique_keyfunc(spark, sf_dir):
    """Keyfunc dedupe (meza's `pred`, ref meza/process.py:861-862):
    dedup key is a derived expression, winner is the min full-row
    struct — deterministic, so it oracles exactly."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment")
    return pr.unique(c, pred=F.col("c_custkey") % 97)


@query("""
    WITH t AS (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (ORDER BY event_id) AS g
      FROM events),
    d AS (
      SELECT *, g - LAG(g) OVER (PARTITION BY user_id ORDER BY g)
                AS dist
      FROM t)
    SELECT event_id, user_id, event_type FROM d
    WHERE dist IS NULL OR dist > 50
""")
def unique_bufsize(spark, sf_dir):
    """Windowed (bounded-buffer) dedupe parity mode (ref
    meza/process.py:887): keep a row iff the previous occurrence of
    its key in event order is more than bufsize rows back."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    return pr.unique(ev, pred=F.col("user_id"), bufsize=50,
                     order_by="event_id")


@query("""
    SELECT c_custkey,
           CASE WHEN c_custkey % 5 = 0 OR c_custkey % 7 = 0
                THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
    FROM customer
""")
def fillempty_str(spark, sf_dir):
    """Constant fill with meza's full hole definition: NULL *and* ''
    count as holes for string columns (ref meza/fntools.py:921-923)."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "seg", F.when(F.col("c_custkey") % 5 == 0, F.lit(""))
                .when(F.col("c_custkey") % 7 == 0, F.lit(None))
                .otherwise(F.col("c_mktsegment")))
    filled = pr.fillempty(c, value="UNKNOWN", fields=["seg"])
    return filled.select("c_custkey", "seg")


@query("""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority LIKE '5%' THEN '3-MEDIUM'
                ELSE o_orderpriority END AS prio
    FROM orders
""")
def fillempty_pred(spark, sf_dir):
    """Constant fill with a custom hole predicate (ref
    meza/fntools.py:906-994 `pred`)."""
    o = _t(spark, sf_dir, "orders")
    filled = pr.fillempty(o, value="3-MEDIUM", fields=["o_orderpriority"],
                          pred=lambda col: col.startswith("5"))
    return filled.select("o_orderkey",
                         F.col("o_orderpriority").alias("prio"))


@query("""
    SELECT o_orderkey,
           COALESCE(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                         ELSE o_totalprice END, o_totalprice) AS filled
    FROM orders
""")
def fillempty_key(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "holey", F.when(F.col("o_orderkey") % 3 == 0, None)
                  .otherwise(F.col("o_totalprice")))
    filled = pr.fillempty(o, fill_key="o_totalprice", fields=["holey"])
    return filled.select("o_orderkey", F.col("holey").alias("filled"))


@query("""
    SELECT o_orderkey,
           CAST(ROUND(CAST(((o_orderkey * 37) % 10000) || '.' ||
                           lpad(CAST((o_orderkey * 7) % 1000 AS VARCHAR), 3, '0')
                      AS DECIMAL(38,8)), 2) AS VARCHAR) AS casted
    FROM orders
""")
def cast_decimal(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = F.concat(F.lit("$"), ((k * 37) % 10000).cast("string"), F.lit("."),
                 F.lpad(((k * 7) % 1000).cast("string"), 3, "0"))
    return o.select("o_orderkey",
                    cv.to_decimal(s, places=2).cast("string").alias("casted"))


@query("""
    SELECT event_id, strftime(ts, '%H:%M:%S') AS t FROM events
""")
def cast_time(spark, sf_dir):
    """`time` logical type (no Spark TIME type, SURVEY §1.5): 12-hour
    clock strings parsed back to canonical HH:mm:ss."""
    ev = _t(spark, sf_dir, "events")
    s = F.date_format("ts", "h:mm:ss a")
    return ev.select("event_id", cv.to_time(s).alias("t"))


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def json_recode_nation(spark, sf_dir):
    return pr.json_recode(_t(spark, sf_dir, "nation"))


@query(r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT) AS props_k
    FROM events
""")
def flatten_props(spark, sf_dir):
    """Nested→flat: parse the events.props JSON into a struct, flatten
    to parent_child scalars (meza flattens nested dicts on ingest)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "props", F.from_json("props", "struct<k:int>"))
    return pr.flatten(ev).select("event_id", "props_k")


@query("""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 10 OFFSET 100
""")
def slice_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return pr.slice_rows(o, "o_orderkey", first=101, last=110) \
             .select("o_orderkey", "o_totalprice")


@query("""
    SELECT p_partkey,
           replace(replace(p_name, 'a', '@'), 'e', '3') AS repl,
           replace(replace(replace(p_name || ' & co',
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS xml,
           p_retailprice AS price_restored
    FROM part
""")
def string_funcs(spark, sf_dir):
    from meza_spark.functions import mreplace, xmlize

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        mreplace(F.col("p_name"), [("a", "@"), ("e", "3")]).alias("repl"),
        xmlize(F.concat(F.col("p_name"), F.lit(" & co"))).alias("xml"),
        cv.to_float(F.format_number(F.col("p_retailprice"), 2))
        .alias("price_restored"))


# Tolerance-contract gates: the query emits the EXACT count and
# a flag that the sketch estimate is within bound; the oracle
# pins the flag true. Fails iff the sketch drifts out of bound.
@query("""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
""")
def approx_distinct(spark, sf_dir):
    """HLL++ sketch counts, hash-gated via a tolerance contract (r2
    verdict #3): emit the EXACT distinct count plus a boolean asserting
    the sketch estimate landed within 5x the requested rsd (0.01).
    The oracle recomputes the exact count and pins the flag true — so
    the gate fails if the sketch ever drifts outside its error bound,
    at ANY sf, without pinning the estimate itself."""
    li = _t(spark, sf_dir, "lineitem")
    est = (li.groupBy("l_returnflag")
           .agg(F.approx_count_distinct("l_partkey", 0.01)
                .alias("approx_parts"),
                F.countDistinct("l_partkey").alias("exact_parts")))
    ok = (F.abs(F.col("approx_parts") - F.col("exact_parts"))
          <= F.greatest(F.col("exact_parts") * 0.05, F.lit(1.0)))
    return est.select("l_returnflag", "exact_parts",
                      ok.alias("within_bound"))


@query("""
    -- types + convergence under the reference break rule
    -- (confidence formula unit-pinned; consumed-row count is
    -- prefix-dependent and so not a per-SF constant)
    SELECT * FROM (VALUES
        ('o_orderkey',      'int',      TRUE),
        ('o_custkey',       'int',      TRUE),
        ('o_orderstatus',   'text',     TRUE),
        ('o_totalprice',    'float',    TRUE),
        ('o_orderdate',     'datetime', TRUE),
        ('o_orderpriority', 'text',     TRUE))
    AS t(id, type, converged)
""")
def infer_types_orders(spark, sf_dir):
    """detect_types sampling inference (SURVEY §1.3) run over a fully
    stringified orders head — the engine must rediscover int/float/
    datetime/text from messy strings. Since r7's realignment to the
    reference's actual convergence loop (value-set gen_types + the
    a·ln(1+votes) confidence break), the consumed-row count varies
    with the data prefix (o_orderstatus 'F' rows vote bool, delaying
    the text column's chosen-type votes) and so is SF-dependent; the
    VALUES oracle therefore pins the TYPES — the data-pipeline
    contract — plus the converged flag, while the confidence formula
    and break behavior are unit-pinned on fixed input
    (tests/test_typetools.py::test_confidence_break_reference_formula)."""
    from meza_spark import typetools as tt

    o = _t(spark, sf_dir, "orders").orderBy("o_orderkey")
    s = o.select([F.col(c).cast("string").alias(c) for c in o.columns])
    _, res = tt.detect_types(s)
    rows = [(d["id"], d["type"],
             bool(res["confidence"] >= res["accuracy"]))
            for d in res["types"]]
    return spark.createDataFrame(
        rows, "id string, type string, converged boolean")


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def csv_roundtrip(spark, sf_dir):
    """IO layer under the gate: nation → records2csv → read_csv; the
    reader returns all-string columns (meza's CSV contract)."""
    from meza_spark.io.readers import read_csv
    from meza_spark.io.writers import records2csv

    path = f"/tmp/meza_rt_{os.path.basename(sf_dir.rstrip('/'))}.csv"
    records2csv(_t(spark, sf_dir, "nation"), path)
    return read_csv(spark, path)


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def csv_distributed_roundtrip(spark, sf_dir):
    """Messy-file CSV path, executor-parallel: nation → multi-file
    records2csv → read_csv_distributed (binaryFile + per-task decode
    with mid-stream recovery). One task per file at scale."""
    from meza_spark.io.readers import read_csv_distributed
    from meza_spark.io.writers import records2csv

    path = f"/tmp/meza_rtd_{os.path.basename(sf_dir.rstrip('/'))}.csv"
    records2csv(_t(spark, sf_dir, "nation"), path)
    return read_csv_distributed(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def json_roundtrip(spark, sf_dir):
    """nation → records2json (NDJSON) → read_ndjson; types survive."""
    from meza_spark.io.readers import read_ndjson
    from meza_spark.io.writers import records2json

    path = f"/tmp/meza_rt_{os.path.basename(sf_dir.rstrip('/'))}.jsonl"
    records2json(_t(spark, sf_dir, "nation"), path, newline=True)
    return read_ndjson(spark, path).select("n_nationkey", "n_name",
                                           "n_regionkey")


def _rt_path(sf_dir: str, ext: str) -> str:
    return f"/tmp/meza_rt_{os.path.basename(sf_dir.rstrip('/'))}.{ext}"


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def tsv_roundtrip(spark, sf_dir):
    """nation → records2tsv → read_tsv (excel-tab dialect,
    ref: meza/io.py:853-893); all-string CSV-family contract."""
    from meza_spark.io.readers import read_tsv
    from meza_spark.io.writers import records2tsv

    path = _rt_path(sf_dir, "tsv")
    records2tsv(_t(spark, sf_dir, "nation"), path)
    return read_tsv(spark, path)


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def fixed_roundtrip(spark, sf_dir):
    """nation → records2fixed → read_fixed_fmt (ref: meza/io.py:896-960);
    substring slicing is JVM-side, values trim-normalized strings."""
    from meza_spark.io.readers import read_fixed_fmt
    from meza_spark.io.writers import records2fixed

    path = _rt_path(sf_dir, "fixed.txt")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    col_widths = [14, 28, 12]
    records2fixed(nat, path, widths=col_widths)
    starts = [0, 14, 42]
    return read_fixed_fmt(spark, path, widths=starts, has_header=True)


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
""")
def html_roundtrip(spark, sf_dir):
    """nation → records2html → read_html (th-header detection,
    ref: meza/io.py:1333-1431); cells are strings."""
    from meza_spark.io.readers import read_html
    from meza_spark.io.writers import records2html

    path = _rt_path(sf_dir, "html")
    records2html(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_html(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def xlsx_roundtrip(spark, sf_dir):
    """nation → records2xlsx (stdlib zip+XML) → read_xls
    (ref: meza/io.py:1033-1118); numeric cells survive as ints."""
    from meza_spark.io.readers import read_xls
    from meza_spark.io.writers import records2xlsx

    path = _rt_path(sf_dir, "xlsx")
    records2xlsx(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_xls(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def xls_roundtrip(spark, sf_dir):
    """nation → records2xls (stdlib OLE2+BIFF8 writer) → read_xls's
    native BIFF8 reader (ref: meza/io.py:1033-1118) — the legacy-Excel
    twin of xlsx_roundtrip, r2 verdict #7; RK ints and SST strings
    survive exactly."""
    from meza_spark.io.readers import read_xls
    from meza_spark.io.writers import records2xls

    path = _rt_path(sf_dir, "xls")
    records2xls(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_xls(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def dbf_roundtrip(spark, sf_dir):
    """nation → records2dbf (dBase III spec) → read_dbf
    (ref: meza/io.py:677-722); N fields back to ints, C to strings."""
    from meza_spark.io.readers import read_dbf
    from meza_spark.io.writers import records2dbf

    path = _rt_path(sf_dir, "dbf")
    records2dbf(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_dbf(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def mdb_roundtrip(spark, sf_dir):
    """nation → records2mdb (minimal Jet4 builder) → read_mdb's
    NATIVE pure-stdlib Jet4 parser (ref: meza/io.py:598-674 pipes
    mdb-export; the parser itself is validated against the
    reference's real Access-generated test.mdb). LONGINT back to
    longs, TEXT to strings — closes the one source family that had
    no oracle gate (r4 verdict #4)."""
    from meza_spark.io.readers import read_mdb
    from meza_spark.io.writers import records2mdb

    path = _rt_path(sf_dir, "mdb")
    records2mdb(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path,
        table_name="nation")
    return read_mdb(spark, path, table="nation")


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def mdb3_roundtrip(spark, sf_dir):
    """nation → records2mdb(version=3) → read_mdb over a Jet3
    (Access 97) file: 2 KB pages, 18-byte column entries, latin-1
    text, 1-byte var-offset tails (r4 verdict #5)."""
    from meza_spark.io.readers import read_mdb
    from meza_spark.io.writers import records2mdb

    path = _rt_path(sf_dir, "jet3.mdb")
    records2mdb(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path,
        table_name="nation", version=3)
    return read_mdb(spark, path, table="nation")


@query("""
    SELECT doc_id,
           substr(text, 1, 400) AS wide_text,
           text || text || text || text || text || text
             AS memo_text,
           lang, n_chars
    FROM documents WHERE doc_id % 10 = 7
""")
def mdb3_wide_roundtrip(spark, sf_dir):
    """documents → records2mdb(version=3, memo_threshold) → read_mdb:
    Jet3 WIDE rows (the plain-TEXT wide_text column pushes most rows
    past 256 bytes, so they crack through the jump-table var-offset
    scheme; short docs stay in the classic layout — both paths under
    one oracle) plus a MEMO column (repeated text → single-page or
    chained LVAL storage by length) — the round-5 verdict's two
    remaining Jet3 gates, now closed and differential-gated like
    mdb3_roundtrip."""
    from meza_spark.io.readers import read_mdb
    from meza_spark.io.writers import records2mdb

    path = _rt_path(sf_dir, "jet3wide.mdb")
    src = (_t(spark, sf_dir, "documents")
           .where(F.col("doc_id") % 10 == 7)
           .select("doc_id",
                   F.substring("text", 1, 400).alias("wide_text"),
                   F.concat(F.col("text"), F.col("text"),
                            F.col("text"), F.col("text"),
                            F.col("text"), F.col("text"))
                   .alias("memo_text"),
                   "lang", "n_chars")
           )
    # threshold ABOVE the 400-byte wide_text cap so that column stays
    # plain TEXT and rows genuinely exceed 256 bytes (jump-table
    # territory); only the 6x memo_text column maps to LVAL (r6
    # review #3)
    records2mdb(src, path, table_name="docs", version=3,
                memo_threshold=450)
    return read_mdb(spark, path, table="docs")


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def sqlite_roundtrip(spark, sf_dir):
    """nation → records2sqlite → read_sqlite (ref: meza/io.py:725-760);
    INTEGER/TEXT affinity preserves types end-to-end."""
    from meza_spark.io.readers import read_sqlite
    from meza_spark.io.writers import records2sqlite

    path = _rt_path(sf_dir, "sqlite")
    records2sqlite(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path, table="nation")
    return read_sqlite(spark, path, table="nation")


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def yaml_roundtrip(spark, sf_dir):
    """nation → records2yaml → read_yaml (ref: meza/io.py:1254-1287);
    PyYAML scalars keep python types."""
    from meza_spark.io.readers import read_yaml
    from meza_spark.io.writers import records2yaml

    path = _rt_path(sf_dir, "yaml")
    records2yaml(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_yaml(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def avro_roundtrip(spark, sf_dir):
    """nation → records2avro (deflate OCF, stdlib) → read_avro
    (binaryFile + in-task block decode). pip PySpark has no avro
    module, so this path is the package's Avro story; typed columns
    survive the nullable-union encoding."""
    from meza_spark.io.avro import read_avro, records2avro

    path = _rt_path(sf_dir, "avro")
    records2avro(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_avro(spark, path)


@query("""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def arrow_roundtrip(spark, sf_dir):
    """nation → records2arrow (Feather v2 / Arrow IPC) → read_arrow
    (binaryFile, zero-copy in-task batches). Spark has no arrow-file
    source; pyarrow (already required by the UDF runtime) is the
    bridge — the 'polars/pandas wrote the shards' handoff."""
    from meza_spark.io.arrow_ipc import read_arrow, records2arrow

    path = _rt_path(sf_dir, "arrow")
    records2arrow(_t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"), path)
    return read_arrow(spark, path)


@query("""
    SELECT 'https://corpus.example/' || CAST(doc_id AS VARCHAR)
               AS target_uri,
           text,
           200 AS http_status
    FROM documents
""")
def warc_roundtrip(spark, sf_dir):
    """documents → records2warc (.warc.gz, one gzip member per record
    — Common Crawl's layout) → read_warc (binaryFile + in-task member
    walk, one task per archive). Target URIs, HTTP envelope fields,
    and utf-8 payload text survive byte-exact. (ref analog: meza's
    own stdlib container parsers, io.py:598-1118.)"""
    from meza_spark.io.warc import read_warc, records2warc

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://corpus.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text")
    path = _rt_path(sf_dir, "warc.gz")
    records2warc(docs, path, url_col="url", payload_col="text")
    return (read_warc(spark, path)
            .select("target_uri",
                    F.decode("payload", "UTF-8").alias("text"),
                    "http_status"))


@query("""
    SELECT doc_id, text, lang, source, 2 AS n_members
    FROM documents
    ORDER BY doc_id
""")
def wds_roundtrip(spark, sf_dir):
    """documents → records2webdataset (one tar shard: <key>.txt text
    member + <key>.json metadata member — the WebDataset sample
    convention multimodal training pipelines stream) → read_webdataset
    (binaryFile + in-task tarfile walk, one ROW per sample). Text and
    the json-carried metadata survive byte-exact. (ref analog: meza's
    own stdlib container parsers, io.py:598-1118.)"""
    from meza_spark.io.webdataset import read_webdataset, records2webdataset

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").cast("string").alias("key"),
                    "text",
                    F.to_json(F.struct("lang", "source")).alias("meta"))
            .orderBy("key"))
    path = _rt_path(sf_dir, "wds.tar.gz")
    records2webdataset(docs, path, "key", {"txt": "text", "json": "meta"})
    wds = read_webdataset(spark, path)
    return (wds.select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode(F.element_at("data", "txt"), "UTF-8").alias("text"),
        F.get_json_object(
            F.decode(F.element_at("data", "json"), "UTF-8"),
            "$.lang").alias("lang"),
        F.get_json_object(
            F.decode(F.element_at("data", "json"), "UTF-8"),
            "$.source").alias("source"),
        F.size("exts").alias("n_members"))
        )


# read_media gate: txt rows replay the sniff CASE + sha256
# over the document text itself (ASCII corpus — see the
# multimodal_meta byte-offset note); bmp rows recompute the
# closed-form byte size (54-byte header + padded rows) and
# pixel mean, sha NULL (the decode stat gates those bytes).
@query(f"""
    SELECT doc_id,
           CASE WHEN (doc_id // 10) % 2 = 1 THEN 'bmp'
           {_SNIFF_WHENS}
             ELSE 'unknown'
           END AS format,
           CASE WHEN (doc_id // 10) % 2 = 0
                THEN octet_length(encode(text))
                ELSE 54 + (doc_id % 14 + 1)
                     * (((n_chars % 21 + 1) * 3 + 3) // 4 * 4)
           END AS n_bytes,
           CASE WHEN (doc_id // 10) % 2 = 0 THEN sha256(text)
                ELSE CAST(NULL AS VARCHAR) END AS sha_txt,
           CASE WHEN (doc_id // 10) % 2 = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round(list_sum(list_transform(
                  range(0, (n_chars % 21 + 1) * (doc_id % 14 + 1)),
                  j -> (doc_id * 13 + ((doc_id * 7 + j * 11) % 64) * 5) % 256
                     + (doc_id * 17 + ((doc_id * 7 + j * 11) % 64) * 3) % 256
                     + (doc_id * 19 + ((doc_id * 7 + j * 11) % 64) * 7) % 256))
                  / (3.0 * (n_chars % 21 + 1) * (doc_id % 14 + 1)),
                  6)
           END AS mean_pixel
    FROM documents
    WHERE doc_id % 10 = 3 AND doc_id < 5000
    ORDER BY doc_id
""")
def media_dir_roundtrip(spark, sf_dir):
    """read_media driver gate (round 8, closing the one round-7
    source family without an oracle): write a small on-disk media
    corpus in-query — documents' own text bytes as .txt for
    (doc_id//10)%2==0, a closed-form-pixel BMP for ==1 — then
    `read_media` the directory back (binaryFile scan + the JVM
    magic-byte sniff) and emit, per file: the sniffed format, byte
    length, payload sha256 (text rows — DuckDB recomputes it
    directly), and the decoded mean pixel (BMP rows — arithmetic
    twin). A hash match proves the binaryFile plumbing, the sniff
    precedence, and the bytes' integrity end to end."""
    import os
    import shutil

    from meza_spark.io.readers import read_media
    from meza_spark.llm.multimodal import decode_image

    root = _rt_path(sf_dir, "mediadir")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    # the fixture collect is capped by a deterministic doc_id bound
    # (not .limit, which is order-unstable): ≤500 rows at ANY scale
    # factor, so the gate's driver memory is O(1) in the SF limit
    # (verdict task #7, r9)
    rows = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 5000))
            .select("doc_id", "text", "n_chars").collect())
    import numpy as np

    from meza_spark.llm.multimodal import _encode_bmp
    for r in rows:
        i = int(r["doc_id"])
        if (i // 10) % 2 == 0:
            with open(f"{root}/{i}.txt", "wb") as f:
                f.write(r["text"].encode("utf-8"))
        else:
            w, h = int(r["n_chars"]) % 21 + 1, i % 14 + 1
            j = np.arange(w * h, dtype=np.int64)
            p = (i * 7 + j * 11) % 64
            px = np.stack([(i * 13 + p * 5) % 256,
                           (i * 17 + p * 3) % 256,
                           (i * 19 + p * 7) % 256],
                          axis=1).astype(np.uint8).reshape(h, w, 3)
            with open(f"{root}/{i}.bmp", "wb") as f:
                f.write(_encode_bmp(px))

    media = (read_media(spark, root)
             .withColumn("doc_id", F.regexp_extract(
                 "path", r"(\d+)\.(txt|bmp)$", 1).cast("long"))
             .withColumn("ext", F.regexp_extract(
                 "path", r"(\d+)\.(txt|bmp)$", 2)))
    # branch on the EXTENSION we wrote, not the sniffed format: a
    # text that legitimately starts 'BM…' sniffs as bmp but must not
    # be pixel-decoded (the sniff column itself is still gated below)
    stats = decode_image(
        media.where(F.col("ext") == "bmp")
             .select(F.col("doc_id").alias("media_id"), "payload"))
    return (media.join(stats, media["doc_id"] == stats["media_id"],
                       "left")
            .select(media["doc_id"], "format",
                    F.col("n_bytes").cast("long").alias("n_bytes"),
                    F.when(F.col("ext") == "txt", F.col("payload_sha"))
                     .alias("sha_txt"),
                    F.round("mean_pixel", 6).alias("mean_pixel"))
            )


# pdf_extract: the page text IS the document text (multi-page
# variants split at n_chars//2 and re-join with the extractor's
# newline), so the oracle recomputes every column — including
# the sha256 of the extracted text — from `documents` alone.
# This gates the whole encode→xref→filter→content→charmap
# pipeline end to end at every SF.
@query("""
    SELECT doc_id,
           CASE WHEN (doc_id // 10) % 2 = 0
                THEN '1.4' ELSE '1.7' END AS version,
           CAST(CASE WHEN (doc_id // 10) % 10 IN (1, 2, 3, 9)
                THEN 2 ELSE 1 END AS INTEGER) AS n_pages,
           CAST(n_chars + CASE WHEN (doc_id // 10) % 10 IN (1, 2, 3, 9)
                THEN 1 ELSE 0 END AS INTEGER) AS n_chars_out,
           CASE WHEN (doc_id // 10) % 10 IN (1, 2, 3, 9)
                THEN sha256(substr(text, 1, n_chars // 2)
                            || chr(10)
                            || substr(text, n_chars // 2 + 1))
                ELSE sha256(text) END AS text_sha
    FROM documents
    WHERE doc_id % 10 = 4 AND doc_id < 5000
    ORDER BY doc_id
""")
def pdf_extract(spark, sf_dir):
    """PDF text-extraction driver gate (round 9, verdict task #1):
    per document, spec-build a PDF whose page text IS the document
    text (the (doc_id//10)%10 cycle forces every decoder path — raw /
    Flate / ASCIIHex / ASCII85 / RunLength / LZW streams, classic
    tables vs xref STREAMS vs ObjStm packing, WinAnsi / Standard /
    /Differences / Type0-ToUnicode charmaps, TJ-kerned spaces, two
    PDF versions, and standard security with an empty user password —
    the permissions-only encryption real crawled PDFs carry. The
    encrypted buckets sub-cycle on doc_id//100 across RC4-40/RC4-128,
    AESV2 (V4 crypt filters, AES-128-CBC) and AESV3 (V5 R6 AES-256,
    SHA-2 hash chain); AES-256 is rationed to ~1 in 4 of its bucket
    because algorithm 2.B is spec-mandated expensive (≥64 chained
    AES-CBC rounds per hash, ~1.7 s/doc even on the T-table core) —
    then extract it back with the full parser
    (meza_spark/llm/pdf.py) in the same Arrow batch. Multi-page
    variants split the text at n_chars//2, so the expected extraction
    is substr(text,1,h) || chr(10) || substr(text,h+1) — the DuckDB
    oracle recomputes the sha256 directly. Row-local, zero shuffle;
    the doc_id<5000 bound keeps the gate O(1)-per-executor at any SF.
    The two REAL pdfTeX documents (xref streams + ObjStms +
    Type1-builtin encodings) are pinned in tests/test_pdf_heif_svg.py."""
    import pandas as pd

    from meza_spark.llm.pdf import encode_pdf, extract_pdf_bytes

    schema = ("doc_id long, version string, n_pages int, "
              "n_chars_out int, text_sha string")

    def run(batches):
        import hashlib

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                v = (int(i) // 10) % 10
                if v in (1, 2, 3, 9):
                    half = len(text) // 2
                    pages = [text[:half], text[half:]]
                else:
                    pages = [text]
                b = encode_pdf(
                    pages,
                    stream_filter=["none", "flate", "flate", "flate",
                                   "ahx", "a85", "rle", "lzw",
                                   "flate", "ahx"][v],
                    xref_stream=v in (2, 3, 8),
                    use_objstm=v == 3,
                    font={4: "differences", 6: "standard",
                          7: "tounicode"}.get(v, "winansi"),
                    kern=v == 5,
                    encrypt={8: ("rc4-128", "aesv2")[(int(i) // 100) % 2],
                             9: ("rc4-40", "aes256", "rc4-40",
                                 "aesv2")[(int(i) // 100) % 4]}.get(v),
                    version="1.4" if v % 2 == 0 else "1.7")
                r = extract_pdf_bytes(b)
                rows.append((int(i), r["version"], r["n_pages"],
                             len(r["text"]),
                             hashlib.sha256(
                                 r["text"].encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "version", "n_pages", "n_chars_out",
                "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 4) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# office_extract: the container body text IS the document text
# (two parts split at n_chars//2, re-joined with chr(10) for
# paragraph formats and a blank line for slide/chapter
# formats), so the oracle recomputes every column — including
# the extracted-text sha256 — from `documents` alone. This
# gates the zip budget walk, member XML parses, spine
# ordering, and title plumbing end to end at every SF.
@query("""
    SELECT doc_id,
           CASE (doc_id // 10) % 4 WHEN 0 THEN 'docx'
                WHEN 1 THEN 'pptx' WHEN 2 THEN 'odt'
                ELSE 'epub' END AS format,
           CAST(2 AS INTEGER) AS n_parts,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(n_chars + CASE WHEN (doc_id // 10) % 4 IN (1, 3)
                THEN 2 ELSE 1 END AS INTEGER) AS n_chars_out,
           sha256(substr(text, 1, n_chars // 2)
                  || CASE WHEN (doc_id // 10) % 4 IN (1, 3)
                     THEN chr(10) || chr(10) ELSE chr(10) END
                  || substr(text, n_chars // 2 + 1)) AS text_sha
    FROM documents
    WHERE doc_id % 10 = 6 AND doc_id < 5000
    ORDER BY doc_id
""")
def office_extract(spark, sf_dir):
    """Zip-document text-extraction driver gate (round 9, beyond the
    PDF task): per document, build the container whose body text IS
    the document text — the (doc_id//10)%4 cycle walks DOCX
    (WordprocessingML w:p/w:t), PPTX (slideN.xml a:p/a:t in numeric
    spine order), ODT (OpenDocument text:p) and EPUB (OCF container →
    OPF spine → XHTML) — then extract it back with the full parser
    (meza_spark/llm/office.py) in the same Arrow batch. Every variant
    splits the text at n_chars//2 into two parts, so the expected
    extraction is substr(text,1,h) || sep || substr(text,h+1) with
    sep = chr(10) for paragraph formats (docx/odt) and
    chr(10)||chr(10) for multi-part formats (pptx slides / epub
    chapters); the DuckDB oracle recomputes the sha256 directly.
    Titles exercise docProps/core.xml, meta.xml and the OPF
    dc:title. Row-local, zero shuffle; doc_id<5000 keeps the gate
    O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.office import (encode_docx, encode_epub,
                                       encode_odt, encode_pptx,
                                       extract_office_bytes)

    schema = ("doc_id long, format string, n_parts int, title string, "
              "n_chars_out int, text_sha string")

    def run(batches):
        import hashlib

        enc = {0: encode_docx, 1: encode_pptx, 2: encode_odt,
               3: encode_epub}
        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                v = (int(i) // 10) % 4
                half = len(text) // 2
                b = enc[v]([text[:half], text[half:]],
                           title="Doc %d" % int(i))
                r = extract_office_bytes(b)
                rows.append((int(i), r["format"], r["n_parts"],
                             r["title"], len(r["text"]),
                             hashlib.sha256(
                                 r["text"].encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "format", "n_parts", "title", "n_chars_out",
                "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 6) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# doc_dir_e2e: files on disk, so the oracle recomputes the JVM
# sniff (CASE on the extension we wrote), the dispatcher's
# format, and the extracted-text sha from `documents` alone.
@query("""
    SELECT doc_id,
           CASE (doc_id // 10) % 5 WHEN 0 THEN 'pdf'
                WHEN 1 THEN 'zip' WHEN 2 THEN 'rtf'
                WHEN 3 THEN 'gzip' ELSE 'zip' END AS sniff,
           CASE (doc_id // 10) % 5 WHEN 0 THEN 'pdf'
                WHEN 1 THEN 'docx' WHEN 2 THEN 'rtf'
                WHEN 3 THEN 'txt' ELSE 'epub' END AS format,
           CAST(n_chars AS INTEGER) AS n_chars_out,
           sha256(text) AS text_sha
    FROM documents
    WHERE doc_id % 10 = 1 AND doc_id < 5000
    ORDER BY doc_id
""")
def doc_dir_e2e(spark, sf_dir):
    """On-disk mixed-document corpus END-TO-END (round 9): write a
    directory of real FILES — (doc_id//10)%5 cycles .pdf (Flate),
    .docx, .rtf, .txt.gz and .epub, each body = the document text —
    then run the actual user path: `read_media` (binaryFile scan +
    JVM magic sniff) → `document_text` (magic dispatch to the
    pdf/office/rtf/gzip/text tiers). Gates the whole chain: on-disk
    bytes, the binaryFile plumbing, BOTH sniffers' agreement (the
    JVM column is emitted next to the dispatcher's format), and the
    extraction itself, sha-checked by the DuckDB twin. The fixture
    collect is bounded by doc_id<5000 (≤500 rows at any SF) like
    media_dir_roundtrip's."""
    import gzip
    import os
    import shutil

    from meza_spark.io.readers import read_media
    from meza_spark.llm.doctext import document_text
    from meza_spark.llm.office import encode_docx, encode_epub
    from meza_spark.llm.pdf import encode_pdf
    from meza_spark.llm.rtf import encode_rtf

    root = _rt_path(sf_dir, "docdir")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    rows = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 1) & (F.col("doc_id") < 5000))
            .select("doc_id", "text").collect())
    for r in rows:
        i, text = int(r["doc_id"]), r["text"]
        v = (i // 10) % 5
        if v == 0:
            name, b = f"{i}.pdf", encode_pdf([text],
                                             stream_filter="flate")
        elif v == 1:
            name, b = f"{i}.docx", encode_docx([text])
        elif v == 2:
            name, b = f"{i}.rtf", encode_rtf([text])
        elif v == 3:
            name, b = f"{i}.txt.gz", gzip.compress(
                text.encode("utf-8"), mtime=0)
        else:
            name, b = f"{i}.epub", encode_epub([text])
        with open(os.path.join(root, name), "wb") as f:
            f.write(b)

    media = (read_media(spark, root)
             .withColumn("doc_id", F.regexp_extract(
                 "path", r"/(\d+)\.", 1).cast("long"))
             .select("doc_id", F.col("format").alias("sniff"),
                     "payload"))
    ext = document_text(media.select(
        F.col("doc_id").alias("media_id"), "payload"))
    return (media.join(ext, media["doc_id"] == ext["media_id"])
            .select("doc_id", "sniff", "format",
                    F.col("n_chars").cast("int").alias("n_chars_out"),
                    F.sha2(F.encode("text", "UTF-8"), 256)
                     .alias("text_sha"))
            )


# rtf_extract: the RTF body IS the document text under five
# variants (plain / \par split / titled / a 'café — ' prefix
# exercising \'hh + \uN? escapes / \tab split); the oracle
# recomputes the sha256 from `documents` alone. The prefix
# literal below is UTF-8 in both engines.
@query("""
    SELECT doc_id,
           CASE WHEN (doc_id // 10) % 5 = 2
                THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                END AS title,
           CAST(n_chars + CASE (doc_id // 10) % 5
                WHEN 1 THEN 1 WHEN 3 THEN 7 WHEN 4 THEN 1
                ELSE 0 END AS INTEGER) AS n_chars_out,
           sha256(CASE (doc_id // 10) % 5
                  WHEN 1 THEN substr(text, 1, n_chars // 2)
                       || chr(10)
                       || substr(text, n_chars // 2 + 1)
                  WHEN 3 THEN 'café — ' || text
                  WHEN 4 THEN substr(text, 1, n_chars // 2)
                       || chr(9)
                       || substr(text, n_chars // 2 + 1)
                  ELSE text END) AS text_sha
    FROM documents
    WHERE doc_id % 10 = 2 AND doc_id < 5000
    ORDER BY doc_id
""")
def rtf_extract(spark, sf_dir):
    """RTF text-extraction driver gate (round 9): per document,
    spec-build an RTF whose body IS the document text — the
    (doc_id//10)%5 cycle forces the decoder paths: plain body, a
    two-paragraph \\par split at n_chars//2, an {\\info{\\title}}
    destination, a 'café — ' prefix (\\'hh code-page escapes plus a
    \\uN?-with-fallback unicode emdash), and a \\tab split — then
    extract it back (meza_spark/llm/rtf.py) in the same Arrow batch.
    The fonttbl/colortbl destinations are present in EVERY fixture,
    so the skip machinery is always live. The DuckDB oracle
    recomputes the sha256 from `documents` alone. Row-local, zero
    shuffle; doc_id<5000 keeps it O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.rtf import encode_rtf, extract_rtf_bytes

    schema = ("doc_id long, title string, n_chars_out int, "
              "text_sha string")

    def run(batches):
        import hashlib

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                v = (int(i) // 10) % 5
                half = len(text) // 2
                title = None
                if v == 0:
                    paras = [text]
                elif v == 1:
                    paras = [text[:half], text[half:]]
                elif v == 2:
                    title = "Doc %d" % int(i)
                    paras = [text]
                elif v == 3:
                    paras = ["café — " + text]
                else:
                    paras = [text[:half] + "\t" + text[half:]]
                r = extract_rtf_bytes(encode_rtf(paras, title=title))
                rows.append((int(i), r["title"], len(r["text"]),
                             hashlib.sha256(
                                 r["text"].encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "title", "n_chars_out", "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 2) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# markup_strip: the stripped plain text is a deterministic
# recombination of the document text (escapes are identity on
# this corpus — no markup-significant characters), so the
# oracle recomputes the expected text and its sha256 from
# `documents` alone. 'bold link code' is the markdown bullet
# line's stripped form; 'Math  drops. kept.' (two spaces —
# dropped inline math) is the LaTeX line's. The halves are
# rtrim'd because both strippers trim line-trailing
# whitespace (the n_chars//2 split can land on a space).
@query("""
    WITH v AS (
      SELECT doc_id, (doc_id // 10) % 2 AS k,
             'Doc ' || CAST(doc_id AS VARCHAR)
             || chr(10) || chr(10)
             || rtrim(substr(text, 1, n_chars // 2))
             || chr(10) || chr(10)
             || CASE (doc_id // 10) % 2
                WHEN 0 THEN 'bold link code'
                ELSE 'Math  drops. kept.' END
             || chr(10) || chr(10)
             || rtrim(substr(text, n_chars // 2 + 1)) AS expected
      FROM documents
      WHERE doc_id % 10 = 9 AND doc_id < 5000)
    SELECT doc_id,
           CASE k WHEN 0 THEN 'markdown' ELSE 'latex'
                END AS kind,
           CAST(length(expected) AS INTEGER) AS n_chars_out,
           sha256(expected) AS text_sha
    FROM v
    ORDER BY doc_id
""")
def markup_strip(spark, sf_dir):
    """Markdown/LaTeX strip driver gate (round 9): per document,
    build a markup fixture whose PLAIN TEXT is a deterministic
    function of the document text — (doc_id//10)%2 alternates a
    Markdown document (ATX heading, escaped body halves, a bullet
    line exercising emphasis + inline link + code span) and a LaTeX
    document (preamble drop, \\section, tex-escaped halves, an
    inline-math + \\emph line) — then strip it back with the REAL
    Spark operators (strip_markdown / strip_latex,
    meza_spark/llm/markup.py: Arrow pandas_udf, row-local). The
    md_escape/tex_escape round trip is exercised on every row; the
    DuckDB oracle recomputes the expected text (and its sha256) from
    `documents` alone. Zero shuffle before the orderBy;
    doc_id<5000 keeps the gate O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.markup import (md_escape, strip_latex,
                                       strip_markdown, tex_escape)

    def build(batches):
        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                half = len(text) // 2
                h1, h2 = text[:half], text[half:]
                if (i // 10) % 2 == 0:
                    kind = "markdown"
                    markup = ("# Doc %d\n\n%s\n\n- **bold** "
                              "[link](http://x/%d) `code`\n\n%s\n"
                              % (i, md_escape(h1), i, md_escape(h2)))
                else:
                    kind = "latex"
                    markup = (
                        "\\documentclass{article}\n\\begin{document}\n"
                        "\\section{Doc %d}\n%s\n\n"
                        "Math $x^2$ drops. \\emph{kept}.\n\n%s\n"
                        "\\end{document}\n"
                        % (i, tex_escape(h1), tex_escape(h2)))
                rows.append((i, kind, markup))
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "markup"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 9) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    built = spread(docs).mapInPandas(
        build, schema="doc_id long, kind string, markup string")
    md = strip_markdown(built.where(F.col("kind") == "markdown"),
                        "markup", "text")
    tx = strip_latex(built.where(F.col("kind") == "latex"),
                     "markup", "text")
    return (md.unionByName(tx)
            .select("doc_id", "kind",
                    F.length("text").cast("int").alias("n_chars_out"),
                    F.sha2("text", 256).alias("text_sha"))
            )


# robots_eval: every variant's RFC 9309 decision is
# arithmetic in doc_id (the k=2 wildcard+anchor rule hits
# iff the //100 path digit is 3 — decoupled from the //10
# variant cycle on purpose).
@query("""
    SELECT doc_id,
           '/p/' || CAST((doc_id // 100) % 10 AS VARCHAR)
               AS path,
           CASE (doc_id // 10) % 4
             WHEN 0 THEN false
             WHEN 1 THEN true
             WHEN 2 THEN (doc_id // 100) % 10 != 3
             ELSE true END AS allowed
    FROM documents
    WHERE doc_id % 10 = 1 AND doc_id < 5000
    ORDER BY doc_id
""")
def robots_eval(spark, sf_dir):
    """robots.txt evaluation driver gate (round 9): per document,
    build a robots fixture from the (doc_id//10)%4 rule-set cycle —
    plain disallow; longest-match Allow-over-Disallow; an agent-
    specific group with a `/*/D$` wildcard+anchor rule (the path
    digit comes from doc_id//100 so it is DECOUPLED from the variant
    cycle — a //10-derived digit would make the anchor-hit branch
    unreachable, the closed-form parity trap); and a group for a
    DIFFERENT agent only (no match → default allow) — then evaluate
    through the REAL Spark operator (robots_filter,
    meza_spark/llm/crawl.py: RFC 9309 longest-match semantics in a
    row-local Arrow pandas_udf with per-batch parse cache). The
    DuckDB oracle replays each variant's decision arithmetically."""
    from meza_spark.llm.crawl import robots_filter

    digit = ((F.col("doc_id") / 100).cast("long") % 10).cast("string")
    k = (F.col("doc_id") / 10).cast("long") % 4
    robots = (F.when(k == 0, F.lit("User-agent: *\nDisallow: /p/\n"))
              .when(k == 1, F.lit("User-agent: *\nDisallow: /\n"
                                  "Allow: /p/\n"))
              .when(k == 2, F.lit("User-agent: mezabot\n"
                                  "Disallow: /*/3$\n\n"
                                  "User-agent: *\nDisallow: /\n"))
              .otherwise(F.lit("User-agent: otherbot\nDisallow: /\n")))
    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 1) & (F.col("doc_id") < 5000))
            .select("doc_id",
                    robots.alias("robots_txt"),
                    F.concat(F.lit("/p/"), digit).alias("path")))
    return (robots_filter(docs, agent="mezabot")
            .select("doc_id", "path", "allowed")
            )


# sitemap_extract: loc/lastmod/changefreq/priority are
# arithmetic in (doc_id, entry ordinal), so the oracle
# regenerates every exploded row via generate_series.
@query("""
    WITH v AS (
      SELECT doc_id, (doc_id // 10) % 3 AS k,
             doc_id % 3 + 1 AS n
      FROM documents
      WHERE doc_id % 10 = 2 AND doc_id < 5000),
    e AS (
      SELECT doc_id, k,
             unnest(generate_series(1, n)) AS j
      FROM v)
    SELECT doc_id,
           CASE WHEN k = 2 THEN 'index'
                ELSE 'urlset' END AS kind,
           CAST(j - 1 AS INTEGER) AS url_idx,
           CASE WHEN k = 2
                THEN 'http://x/' || CAST(doc_id AS VARCHAR)
                     || '/s' || CAST(j AS VARCHAR) || '.xml'
                ELSE 'http://x/' || CAST(doc_id AS VARCHAR)
                     || '/' || CAST(j AS VARCHAR)
                END AS loc,
           CASE WHEN k = 2 THEN NULL
                ELSE '2024-01-0' || CAST(j AS VARCHAR)
                END AS lastmod,
           CASE WHEN k <> 2 AND j % 2 = 1 THEN 'daily'
                END AS changefreq,
           CASE WHEN k = 2 THEN NULL
                ELSE '0.' || CAST(j AS VARCHAR)
                END AS priority
    FROM e
    ORDER BY doc_id, url_idx
""")
def sitemap_extract(spark, sf_dir):
    """Sitemap expansion driver gate (round 9): per document, build
    a sitemap whose entry count is doc_id%3+1 — the (doc_id//10)%3
    cycle walks plain urlset, gzipped urlset (the standard
    sitemap.xml.gz) and a sitemapindex — then explode through the
    REAL Spark operator (sitemap_urls, meza_spark/llm/crawl.py:
    row-local Arrow mapInPandas, one row per entry). The DuckDB
    oracle regenerates every entry (loc/lastmod/changefreq/priority
    are arithmetic in doc_id and the entry ordinal) via
    unnest(generate_series). doc_id<5000 bounds the gate at any SF."""
    import pandas as pd

    from meza_spark.llm.crawl import encode_sitemap, sitemap_urls

    def build(batches):
        for pdf_b in batches:
            rows = []
            for i in pdf_b["doc_id"]:
                i = int(i)
                k = (i // 10) % 3
                n = i % 3 + 1
                if k == 2:
                    entries = [("http://x/%d/s%d.xml" % (i, j),
                                None, None, None)
                               for j in range(1, n + 1)]
                    b = encode_sitemap(entries, index=True)
                else:
                    entries = [("http://x/%d/%d" % (i, j),
                                "2024-01-0%d" % j,
                                "daily" if j % 2 == 1 else None,
                                "0.%d" % j)
                               for j in range(1, n + 1)]
                    b = encode_sitemap(entries, gz=(k == 1))
                rows.append((i, b))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 2) & (F.col("doc_id") < 5000))
            .select("doc_id"))
    built = spread(docs).mapInPandas(
        build, schema="doc_id long, payload binary")
    return (sitemap_urls(built, id_col="doc_id")
            .select("doc_id", "kind", "url_idx", "loc", "lastmod",
                    "changefreq", "priority")
            )


# frontier_e2e: n_urls is doc_id%3+1; the /*/2$ rule kills
# exactly the j=2 entry (present iff n_urls >= 2), so the
# whole sitemap→robots→aggregate→join composition replays
# arithmetically from `documents`.
@query("""
    SELECT doc_id,
           CAST(doc_id % 3 + 1 AS INTEGER) AS n_urls,
           CAST(doc_id % 3 + 1
                - CASE WHEN doc_id % 3 + 1 >= 2 THEN 1
                  ELSE 0 END AS INTEGER) AS n_allowed,
           CAST(n_chars AS INTEGER) AS n_chars_out,
           sha256(text) AS text_sha
    FROM documents
    WHERE doc_id % 10 = 4 AND doc_id < 5000
    ORDER BY doc_id
""")
def frontier_e2e(spark, sf_dir):
    """Crawl-frontier FLAGSHIP (round 9): compose the new tier the
    way a polite crawler does — per-site sitemap payloads (plain and
    gzipped, doc_id%3+1 entries) explode through sitemap_urls, every
    URL is evaluated against robots.txt through robots_filter (the
    `Disallow: /*/2$` wildcard+anchor rule kills exactly the j=2
    entry), the surviving frontier aggregates per site (ONE shuffle,
    by doc_id), and joins back to the fetched page text. The DuckDB
    oracle replays the whole composition arithmetically. Plan shape:
    two row-local Python stages → one hash aggregate → one join
    against the bounded documents slice."""
    import pandas as pd

    from meza_spark.llm.crawl import (encode_sitemap, robots_filter,
                                      sitemap_urls)

    def build(batches):
        for pdf_b in batches:
            rows = []
            for i in pdf_b["doc_id"]:
                i = int(i)
                n = i % 3 + 1
                entries = [("http://x/%d/%d" % (i, j),
                            None, None, None)
                           for j in range(1, n + 1)]
                rows.append((i, encode_sitemap(
                    entries, gz=(i // 10) % 2 == 1)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 4) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    built = spread(docs.select("doc_id")).mapInPandas(
        build, schema="doc_id long, payload binary")
    urls = (sitemap_urls(built, id_col="doc_id")
            .select("doc_id", "loc",
                    F.regexp_replace("loc", r"^http://x", "")
                     .alias("path"),
                    F.lit("User-agent: *\nDisallow: /*/2$\n")
                     .alias("robots_txt")))
    frontier = (robots_filter(urls, agent="mezabot")
                .groupBy("doc_id")
                .agg(F.count("*").cast("int").alias("n_urls"),
                     F.sum(F.when(F.col("allowed"), 1).otherwise(0))
                      .cast("int").alias("n_allowed")))
    return (frontier.join(F.broadcast(docs.withColumnRenamed(
                "doc_id", "d2")), frontier["doc_id"] == F.col("d2"))
            .select("doc_id", "n_urls", "n_allowed",
                    F.length("text").cast("int").alias("n_chars_out"),
                    F.sha2(F.encode("text", "UTF-8"), 256)
                     .alias("text_sha"))
            )


# wet_wat_roundtrip: files on disk, so the oracle recomputes
# what the WET/WAT writers serialized — text sha, title, the
# deterministic doc_id%4+1 link fan-out and its last URL —
# from `documents` alone.
@query("""
    SELECT doc_id,
           CAST(n_chars AS INTEGER) AS n_chars_out,
           sha256(text) AS text_sha,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(doc_id % 4 + 1 AS INTEGER) AS n_links,
           'http://x/' || CAST(doc_id AS VARCHAR) || '/'
               || CAST(doc_id % 4 + 1 AS VARCHAR) AS last_link
    FROM documents
    WHERE doc_id % 10 = 6 AND doc_id < 5000
    ORDER BY doc_id
""")
def wet_wat_roundtrip(spark, sf_dir):
    """Common Crawl WET/WAT END-TO-END driver gate (round 9): write
    the corpus out as BOTH derived formats — sharded WET (conversion
    records, plain-text bodies, executor-parallel
    records2wet_sharded) and sharded WAT (metadata records whose
    Envelope JSON is built JVM-side with to_json: target URI,
    Head.Title, Links[{url}]) — then read both back with the
    distributed readers (read_wet decodes text; read_wat extracts
    title/links via JVM JSON paths) and join per page. No driver
    collect anywhere: the shard writers run in the executors and the
    readers scan one task per shard. The DuckDB oracle recomputes
    text sha, title and the deterministic link fan-out (doc_id%4+1)
    from `documents` alone. doc_id<5000 bounds the corpus at any SF."""
    import shutil

    from meza_spark.io.warc import (read_wat, read_wet,
                                    records2wat_sharded,
                                    records2wet_sharded)

    base = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 6) & (F.col("doc_id") < 5000))
            .select(
                "doc_id",
                F.concat(F.lit("http://x/"), F.col("doc_id"))
                 .alias("url"),
                "text",
                F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
                F.transform(
                    F.sequence(F.lit(1),
                               (F.col("doc_id") % 4 + 1).cast("int")),
                    lambda j: F.concat(F.lit("http://x/"),
                                       F.col("doc_id"), F.lit("/"),
                                       j.cast("string"))).alias("links")))
    wet_dir = _rt_path(sf_dir, "wet.dir")
    wat_dir = _rt_path(sf_dir, "wat.dir")
    shutil.rmtree(wet_dir, ignore_errors=True)
    shutil.rmtree(wat_dir, ignore_errors=True)
    records2wet_sharded(base, wet_dir, shards=8)
    records2wat_sharded(base, wat_dir, shards=8)

    wet = (read_wet(spark, wet_dir)
           .select(F.regexp_extract("target_uri", r"/(\d+)$", 1)
                    .cast("long").alias("doc_id"),
                   F.col("n_chars").cast("int").alias("n_chars_out"),
                   F.sha2(F.encode("text", "UTF-8"), 256)
                    .alias("text_sha")))
    wat = (read_wat(spark, wat_dir)
           .select(F.regexp_extract("target_uri", r"/(\d+)$", 1)
                    .cast("long").alias("wat_id"),
                   "title", "n_links",
                   F.element_at("links", -1).alias("last_link")))
    return (wet.join(wat, wet["doc_id"] == wat["wat_id"])
            .select("doc_id", "n_chars_out", "text_sha", "title",
                    F.col("n_links").cast("int").alias("n_links"),
                    "last_link")
            )


# code_quality_docs: every column is arithmetic over the raw
# text (line splits, regexp strips, marker contains), so the
# oracle recomputes all of it; the two ratios are single IEEE
# divisions of integer-valued doubles — exact in both engines.
@query("""
    SELECT doc_id,
           CAST(len(str_split(text, chr(10))) AS INTEGER)
               AS n_lines,
           CAST(list_max(list_transform(
                str_split(text, chr(10)),
                x -> length(x))) AS INTEGER) AS max_line_len,
           CAST(length(text)
                - (len(str_split(text, chr(10))) - 1) AS DOUBLE)
           / CAST(len(str_split(text, chr(10))) AS DOUBLE)
               AS avg_line_len,
           CAST(length(regexp_replace(text, '[^A-Za-z0-9]',
                                      '', 'g')) AS DOUBLE)
           / CAST(greatest(length(text), 1) AS DOUBLE)
               AS alnum_frac,
           (contains(lower(text), 'auto-generated')
            OR contains(lower(text), 'autogenerated')
            OR contains(lower(text), 'do not edit')
            OR contains(lower(text), 'generated by'))
               AS is_autogen,
           regexp_matches(text, '[A-Za-z0-9+/=]{64,}')
               AS has_long_b64,
           regexp_matches(text, '[0-9a-fA-F]{128,}')
               AS has_long_hex
    FROM documents
    WHERE doc_id < 5000
    ORDER BY doc_id
""")
def code_quality_docs(spark, sf_dir):
    """Code-corpus quality filters driver gate (round 9): the
    StarCoder/CodeParrot-style per-file rules (line stats,
    alphanumeric fraction, generated-file markers, embedded
    base64/hex blob detection) as pure Catalyst expressions
    (meza_spark/llm/code.py code_quality — split/transform/regexp,
    row-local codegen, zero Python). Every ratio is one IEEE
    division of integer-valued doubles, so the DuckDB twin is exact
    at every SF."""
    from meza_spark.llm.code import code_quality

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 5000).select("doc_id", "text"))
    return (code_quality(docs)
            .select("doc_id",
                    F.col("n_lines").cast("int").alias("n_lines"),
                    F.col("max_line_len").cast("int")
                     .alias("max_line_len"),
                    "avg_line_len", "alnum_frac", "is_autogen",
                    "has_long_b64", "has_long_hex")
            )


# python_facts: docstring/comment contents are the text
# halves verbatim (ast.get_docstring(clean=False), tokenize
# COMMENT strings), so their sha256s recompute from
# `documents`; norm_sha is structural (identifiers/strings/
# numbers masked) and thus CONSTANT per shape — pinned as
# literals, regenerate via python_facts_bytes on the shape
# templates if the tokenizer policy ever changes.
@query("""
    SELECT doc_id,
           (doc_id // 10) % 3 < 2 AS parse_ok,
           CAST(CASE WHEN (doc_id // 10) % 3 < 2 THEN 1
                END AS INTEGER) AS n_defs,
           CAST(CASE (doc_id // 10) % 3 WHEN 0 THEN 0
                WHEN 1 THEN 1 END AS INTEGER) AS n_classes,
           CASE (doc_id // 10) % 3
             WHEN 0 THEN sha256(substr(text, 1, n_chars // 2))
             WHEN 1 THEN sha256(substr(text, n_chars // 2 + 1))
             END AS ds_sha,
           CASE (doc_id // 10) % 3
             WHEN 0 THEN sha256('# '
                  || substr(text, n_chars // 2 + 1))
             WHEN 1 THEN sha256('# '
                  || substr(text, 1, n_chars // 2))
             END AS cm_sha,
           CASE (doc_id // 10) % 3
             WHEN 0 THEN 'de5d4314e1d292e713cccf750659a572'
                  || 'ec3d8807a73d2895e2e465da3dc1bc98'
             WHEN 1 THEN '913e1c59d2b4f01100d34ce4d8b3db9d'
                  || 'b0b5472ea8f924442ee7b17e907f1f2d'
             END AS norm_sha
    FROM documents
    WHERE doc_id % 10 = 8 AND doc_id < 5000
    ORDER BY doc_id
""")
def python_facts(spark, sf_dir):
    """Python structural-facts driver gate (round 9): per document,
    build a deterministic Python source embedding the text halves as
    a docstring and a comment — (doc_id//10)%3 cycles a module-
    docstring+def shape, a class+method-docstring shape, and a
    SYNTAX-BROKEN file (parse_ok=false with null facts — broken
    files are data in a code corpus, not errors) — then extract with
    the full ast+tokenize walk (meza_spark/llm/code.py). norm_sha is
    the identifier/string/number-masked token-stream fingerprint
    (structural code dedup): constant per shape, pinned as literals
    in the oracle. Row-local, zero shuffle; doc_id<5000 keeps the
    gate O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.code import python_facts_bytes

    schema = ("doc_id long, parse_ok boolean, n_defs int, "
              "n_classes int, ds_sha string, cm_sha string, "
              "norm_sha string")

    def run(batches):
        import hashlib

        def sha(s):
            return (None if s is None
                    else hashlib.sha256(s.encode("utf-8")).hexdigest())

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                k = (i // 10) % 3
                half = len(text) // 2
                h1, h2 = text[:half], text[half:]
                if k == 0:
                    src = ('"""%s"""\n\n# %s\ndef f(a):\n'
                           '    return a + 1\n' % (h1, h2))
                elif k == 1:
                    src = ('# %s\nclass C:\n    """%s"""\n'
                           '    def m(self):\n        return 42\n'
                           % (h1, h2))
                else:
                    src = "def broken(:\n# %s\n" % text
                r = python_facts_bytes(src)
                rows.append((i, r["parse_ok"], r["n_defs"],
                             r["n_classes"], sha(r["docstrings"]),
                             sha(r["comments"]), r["norm_sha"]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "parse_ok", "n_defs", "n_classes",
                "ds_sha", "cm_sha", "norm_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 8) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# ipynb_extract: markdown cells strip (heading unwraps,
# line-trailing whitespace trims — the half split can land on
# a space), code/raw cells pass verbatim, outputs never
# surface; so the oracle recomputes the cell-joined text and
# its sha256 from `documents` alone.
@query("""
    WITH v AS (
      SELECT doc_id, (doc_id // 10) % 2 AS k,
             CASE (doc_id // 10) % 2
               WHEN 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                    || chr(10) || chr(10)
                    || rtrim(substr(text, 1, n_chars // 2))
                    || chr(10) || chr(10)
                    || substr(text, n_chars // 2 + 1)
               ELSE substr(text, 1, n_chars // 2)
                    || chr(10) || chr(10) || '—raw—'
                    || chr(10) || chr(10)
                    || substr(text, n_chars // 2 + 1) || ' end'
               END AS expected
      FROM documents
      WHERE doc_id % 10 = 7 AND doc_id < 5000)
    SELECT doc_id,
           CAST(CASE k WHEN 0 THEN 2 ELSE 3 END
                AS INTEGER) AS n_cells,
           CAST(1 AS INTEGER) AS n_code,
           'python' AS language,
           CAST(length(expected) AS INTEGER) AS n_chars_out,
           sha256(expected) AS text_sha
    FROM v
    ORDER BY doc_id
""")
def ipynb_extract(spark, sf_dir):
    """Jupyter-notebook extraction driver gate (round 9): per
    document, build an nbformat-v4 fixture whose cells carry the
    document text halves — (doc_id//10)%2 alternates (markdown
    heading cell + verbatim code cell) and (code cell + raw cell +
    markdown cell with an emphasis tail, plus a stream OUTPUT the
    extractor must drop) — then extract with the full parser
    (meza_spark/llm/notebook.py: markdown cells through the
    CommonMark-core stripper, code verbatim, outputs never text).
    The DuckDB oracle recomputes the expected text and sha256 from
    `documents` alone. Row-local, zero shuffle; doc_id<5000 keeps
    the gate O(1)-per-executor at any SF."""
    import json

    import pandas as pd

    from meza_spark.llm.markup import md_escape
    from meza_spark.llm.notebook import encode_ipynb, extract_ipynb_bytes

    schema = ("doc_id long, n_cells int, n_code int, language string, "
              "n_chars_out int, text_sha string")

    def run(batches):
        import hashlib

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                half = len(text) // 2
                h1, h2 = text[:half], text[half:]
                if (i // 10) % 2 == 0:
                    b = encode_ipynb([
                        ("markdown", "# Doc %d\n\n%s" % (i, md_escape(h1))),
                        ("code", h2)])
                else:
                    doc = json.loads(encode_ipynb([
                        ("code", h1), ("raw", "—raw—"),
                        ("markdown", md_escape(h2) + " *end*")]))
                    doc["cells"][0]["outputs"] = [
                        {"output_type": "stream",
                         "text": ["must never surface\n"]}]
                    b = json.dumps(doc, sort_keys=True).encode("utf-8")
                r = extract_ipynb_bytes(b)
                rows.append((i, r["n_parts"], r["n_code_cells"],
                             r["language"], len(r["text"]),
                             hashlib.sha256(
                                 r["text"].encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_cells", "n_code", "language",
                "n_chars_out", "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 7) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# subtitle_extract: cue texts ARE the document text halves
# (whitespace-trimmed by the parser — the split can land on a
# space), timings fixed, so the oracle recomputes the cue
# rows from `documents` alone.
@query("""
    WITH v AS (
      SELECT doc_id, text, n_chars, (doc_id // 10) % 2 AS k
      FROM documents
      WHERE doc_id % 10 = 5 AND doc_id < 5000),
    m AS (
      SELECT doc_id, k, 1 AS cue_idx,
             CAST(0 AS BIGINT) AS start_ms,
             CAST(1500 AS BIGINT) AS end_ms,
             trim(substr(text, 1, n_chars // 2)) AS body
      FROM v
      UNION ALL
      SELECT doc_id, k, 2, 2000, 3500,
             trim(substr(text, n_chars // 2 + 1))
      FROM v)
    SELECT doc_id,
           CASE k WHEN 0 THEN 'srt' ELSE 'vtt' END AS format,
           CAST(cue_idx AS INTEGER) AS cue_idx,
           start_ms, end_ms,
           CAST(length(body) AS INTEGER) AS n_chars_out,
           sha256(body) AS cue_sha
    FROM m
    ORDER BY doc_id, cue_idx
""")
def subtitle_extract(spark, sf_dir):
    """Subtitle-extraction driver gate (round 9): per document, build
    a two-cue track whose cue texts ARE the document text halves —
    (doc_id//10)%2 alternates SRT (counter blocks, comma separator)
    and WebVTT (magic line + a NOTE block the parser must skip, dot
    separator) — then explode it back through the REAL Spark operator
    (subtitle_cues, meza_spark/llm/subtitles.py: row-local Arrow
    mapInPandas, one row per cue, zero shuffle). Cue text lines are
    whitespace-trimmed by the parser, so the oracle trims the halves;
    timings are fixed (0–1500 / 2000–3500 ms). doc_id<5000 keeps the
    gate O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.subtitles import (encode_srt, encode_vtt,
                                          subtitle_cues)

    def build(batches):
        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                half = len(text) // 2
                cues = [(0, 1500, text[:half]), (2000, 3500, text[half:])]
                b = (encode_srt(cues) if (i // 10) % 2 == 0
                     else encode_vtt(cues, note="fixture"))
                rows.append((i, b))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 5) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    built = spread(docs).mapInPandas(
        build, schema="doc_id long, payload binary")
    return (subtitle_cues(built, id_col="doc_id")
            .select("doc_id", "format", "cue_idx", "start_ms", "end_ms",
                    F.length("cue_text").cast("int").alias("n_chars_out"),
                    F.sha2("cue_text", 256).alias("cue_sha"))
            )


# archive_expand: member bytes ARE the document text halves
# (utf-8), so the oracle recomputes kind, names, BYTE sizes
# (octet_length over the utf-8 encoding) and sha256 digests
# from `documents` alone. k<3 archives carry two members;
# the bare-gzip variant carries one whole-text member named
# from its FNAME field.
@query("""
    WITH v AS (
      SELECT doc_id, text, n_chars, (doc_id // 10) % 4 AS k
      FROM documents
      WHERE doc_id % 10 = 0 AND doc_id < 5000),
    m AS (
      SELECT doc_id, k, 0 AS member_idx,
             CASE WHEN k = 3
                  THEN 'doc_' || CAST(doc_id AS VARCHAR) || '.txt'
                  ELSE 'doc/' || CAST(doc_id AS VARCHAR) || '_0.txt'
                  END AS member_name,
             CASE WHEN k = 3 THEN text
                  ELSE substr(text, 1, n_chars // 2)
                  END AS body
      FROM v
      UNION ALL
      SELECT doc_id, k, 1,
             'doc/' || CAST(doc_id AS VARCHAR) || '_1.txt',
             substr(text, n_chars // 2 + 1)
      FROM v WHERE k < 3)
    SELECT doc_id,
           CASE k WHEN 0 THEN 'zip' WHEN 1 THEN 'tar'
                WHEN 2 THEN 'tgz' ELSE 'gz' END AS kind,
           CAST(member_idx AS INTEGER) AS member_idx,
           member_name,
           CAST(octet_length(encode(body)) AS BIGINT)
               AS member_size,
           sha256(body) AS member_sha
    FROM m
    ORDER BY doc_id, member_idx
""")
def archive_expand(spark, sf_dir):
    """Archive-expansion driver gate (round 9): per document, build a
    deterministic archive whose members ARE the document text halves
    — the (doc_id//10)%4 cycle walks zip (central-directory budget
    walk), tar (ustar), tar.gz (budget-gated gunzip → tar re-sniff)
    and a bare FNAME'd gzip member — then explode it back through the
    REAL Spark operator (expand_archive, meza_spark/io/archive.py:
    row-local Arrow mapInPandas, one row per member, zero shuffle).
    The DuckDB oracle recomputes member names, byte sizes and sha256
    digests from `documents` alone. doc_id<5000 keeps the gate
    O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.io.archive import (encode_gz, encode_tar,
                                       encode_zip, expand_archive)

    def build(batches):
        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                k = (i // 10) % 4
                half = len(text) // 2
                members = [("doc/%d_0.txt" % i, text[:half].encode()),
                           ("doc/%d_1.txt" % i, text[half:].encode())]
                if k == 0:
                    b = encode_zip(members)
                elif k == 1:
                    b = encode_tar(members)
                elif k == 2:
                    b = encode_tar(members, gz=True)
                else:
                    b = encode_gz("doc_%d.txt" % i, text.encode())
                rows.append((i, b))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    built = spread(docs).mapInPandas(
        build, schema="doc_id long, payload binary")
    return (expand_archive(built, id_col="doc_id")
            .select("doc_id", "kind", "member_idx", "member_name",
                    "member_size",
                    F.sha2("member_bytes", 256).alias("member_sha"))
            )


# eml_extract: every variant's body IS the document text
# (v1 adds a unicode prefix; v4/v5 split at n_chars//2 and
# re-join with a blank line — part texts are only
# newline-stripped, so a boundary space SURVIVES and no rtrim
# is applied), so the oracle recomputes subject (incl. the
# RFC 2047 variant), part/attachment counts and the sha256
# from `documents` alone.
@query("""
    WITH v AS (
      SELECT doc_id, (doc_id // 10) % 6 AS k,
             CASE (doc_id // 10) % 6
               WHEN 1 THEN 'café — ' || text
               WHEN 4 THEN substr(text, 1, n_chars // 2)
                    || chr(10) || chr(10)
                    || substr(text, n_chars // 2 + 1)
               WHEN 5 THEN substr(text, 1, n_chars // 2)
                    || chr(10) || chr(10)
                    || substr(text, n_chars // 2 + 1)
               ELSE text END AS expected
      FROM documents
      WHERE doc_id % 10 = 3 AND doc_id < 5000)
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR)
           || CASE WHEN k = 2 THEN ' — é' ELSE '' END AS subject,
           CAST(CASE k WHEN 4 THEN 4 WHEN 5 THEN 2
                ELSE 1 END AS INTEGER) AS n_parts,
           CAST(CASE WHEN k = 4 THEN 1 ELSE 0
                END AS INTEGER) AS n_attachments,
           CAST(length(expected) AS INTEGER) AS n_chars_out,
           sha256(expected) AS text_sha
    FROM v
    ORDER BY doc_id
""")
def eml_extract(spark, sf_dir):
    """Email text-extraction driver gate (round 9): per document,
    build a deterministic RFC 5322 fixture whose body IS the document
    text — the (doc_id//10)%6 cycle forces the decoder paths: plain
    7bit, base64 with a 'café — ' unicode prefix, quoted-printable
    with an RFC 2047 encoded-word subject, multipart/alternative
    (the text/plain candidate must win over the html), multipart/
    mixed with two inline text parts + a binary attachment (counted,
    never decoded into the body), and a two-message mboxo archive
    (envelope split + >From unstuffing) — then extract it back with
    the full parser (meza_spark/llm/eml.py) in the same Arrow batch.
    The DuckDB oracle recomputes every column — including the
    extracted-text sha256 — from `documents` alone. Row-local, zero
    shuffle; doc_id<5000 keeps the gate O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.eml import (encode_eml, encode_mbox,
                                    extract_eml_bytes, split_mbox)

    schema = ("doc_id long, subject string, n_parts int, "
              "n_attachments int, n_chars_out int, text_sha string")

    def run(batches):
        import hashlib

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                k = (i // 10) % 6
                half = len(text) // 2
                subj = "Doc %d" % i
                if k == 0:
                    b = encode_eml([text], subject=subj)
                elif k == 1:
                    b = encode_eml(["café — " + text], subject=subj,
                                   cte="base64")
                elif k == 2:
                    subj = "Doc %d — é" % i
                    b = encode_eml([text], subject=subj,
                                   cte="quoted-printable")
                elif k == 3:
                    b = encode_eml([text], subject=subj,
                                   html_alt="<html><body><p>html loses"
                                            "</p></body></html>")
                elif k == 4:
                    b = encode_eml([text[:half], text[half:]],
                                   subject=subj,
                                   attachments=[("blob.bin", b"\x00\x01")])
                if k == 5:
                    msgs = [encode_eml([text[:half]], subject=subj),
                            encode_eml([text[half:]], subject=subj)]
                    extracted = [extract_eml_bytes(m)
                                 for m in split_mbox(encode_mbox(msgs))]
                    out_subj = extracted[0]["subject"]
                    n_parts = len(extracted)
                    n_atts = sum(e["n_attachments"] for e in extracted)
                    body = "\n\n".join(e["text"] for e in extracted)
                else:
                    r = extract_eml_bytes(b)
                    out_subj, n_parts = r["subject"], r["n_parts"]
                    n_atts, body = r["n_attachments"], r["text"]
                rows.append((i, out_subj, n_parts, n_atts, len(body),
                             hashlib.sha256(
                                 body.encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "subject", "n_parts", "n_attachments",
                "n_chars_out", "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


# doc_extract_mixed: every variant's body IS the document
# text, so the oracle recomputes format (the dispatch
# result), title and the sha256 per variant; the HTML arm
# whitespace-collapses with html_extract's class.
@query("""
    WITH v AS (
      SELECT doc_id, text, n_chars, (doc_id // 10) % 10 AS k,
             trim(regexp_replace(text,
                  '[ \\t\\r\\n\\f\\v]+', ' ', 'g')) AS ctext
      FROM documents
      WHERE doc_id % 10 = 8 AND doc_id < 5000)
    SELECT doc_id,
           CASE k WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                WHEN 2 THEN 'pptx' WHEN 3 THEN 'odt'
                WHEN 4 THEN 'epub' WHEN 5 THEN 'rtf'
                WHEN 6 THEN 'html' WHEN 7 THEN 'txt'
                WHEN 8 THEN 'rtf' ELSE 'txt' END AS format,
           CASE WHEN k IN (7, 9) THEN NULL
                ELSE 'Doc ' || CAST(doc_id AS VARCHAR)
                END AS title,
           CAST(CASE WHEN k = 6 THEN length(ctext)
                ELSE n_chars END AS INTEGER) AS n_chars_out,
           CASE WHEN k = 6 THEN sha256(ctext)
                ELSE sha256(text) END AS text_sha
    FROM v
    ORDER BY doc_id
""")
def doc_extract_mixed(spark, sf_dir):
    """Unified content-dispatch driver gate (round 9): a MIXED binary
    column — the (doc_id//10)%10 cycle builds PDF, DOCX, PPTX, ODT,
    EPUB, RTF, an HTML page, gzip-wrapped plain text, gzip-wrapped
    RTF (transparent decompress-then-redispatch), and bare UTF-8
    text — routed through ONE operator, document_text
    (meza_spark/llm/doctext.py), which sniffs magic bytes and
    dispatches to the right extraction tier. Every variant's body IS
    the document text, so the DuckDB oracle recomputes format, title
    and the text sha256 from `documents` alone (the HTML variant
    whitespace-collapses with the html_extract class). Row-local,
    zero shuffle; doc_id<5000 keeps it O(1)-per-executor at any SF."""
    import pandas as pd

    from meza_spark.llm.doctext import extract_document_bytes

    schema = ("doc_id long, format string, title string, "
              "n_chars_out int, text_sha string")

    def run(batches):
        import gzip
        import hashlib

        from meza_spark.llm.office import (encode_docx, encode_epub,
                                           encode_odt, encode_pptx)
        from meza_spark.llm.pdf import encode_pdf
        from meza_spark.llm.rtf import encode_rtf

        for pdf_b in batches:
            rows = []
            for i, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                i = int(i)
                v = (i // 10) % 10
                t = "Doc %d" % i
                if v == 0:
                    b = encode_pdf([text], stream_filter="flate",
                                   title=t)
                elif v == 1:
                    b = encode_docx([text], title=t)
                elif v == 2:
                    b = encode_pptx([text], title=t)
                elif v == 3:
                    b = encode_odt([text], title=t)
                elif v == 4:
                    b = encode_epub([text], title=t)
                elif v == 5:
                    b = encode_rtf([text], title=t)
                elif v == 6:
                    esc = (text.replace("&", "&amp;")
                           .replace("<", "&lt;").replace(">", "&gt;"))
                    b = ("<html><head><title>%s</title></head>"
                         "<body><p>%s</p></body></html>"
                         % (t, esc)).encode("utf-8")
                elif v == 7:
                    b = gzip.compress(text.encode("utf-8"), mtime=0)
                elif v == 8:
                    b = gzip.compress(encode_rtf([text], title=t),
                                      mtime=0)
                else:
                    b = text.encode("utf-8")
                r = extract_document_bytes(b)
                rows.append((i, r["format"], r["title"],
                             len(r["text"]),
                             hashlib.sha256(
                                 r["text"].encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "format", "title", "n_chars_out",
                "text_sha"])

    from meza_spark.util import spread

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 8) & (F.col("doc_id") < 5000))
            .select("doc_id", "text"))
    return spread(docs).mapInPandas(run, schema=schema)


@query("""
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           trim(regexp_replace(text,
                '[ \\t\\r\\n\\f\\v]+', ' ', 'g')) AS text,
           1 AS n_blocks_kept,
           3 AS n_blocks_dropped
    FROM documents
""")
def html_extract(spark, sf_dir):
    """Boilerplate-removing HTML→text extraction (llm/htmltext.py,
    jusText-lite): wrap each document in a synthetic page (title +
    nav/footer chrome + linkfarm div + the escaped text as the body
    paragraph), extract, and require title + clean text back — chrome
    and link-farm blocks must vanish, the paragraph must survive
    whitespace-collapsed. The oracle rebuilds the expected extraction
    with the SAME ascii-whitespace collapse class."""
    from meza_spark.llm.htmltext import extract_text

    esc = F.col("text")
    for pat, rep in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(pat), F.lit(rep))
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title></head><body>"
              "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"
              "<div><a href=\"/x\">one link</a> <a href=\"/y\">"
              "another link here</a> f</div>"
              "<p>"), esc,
        F.lit("</p><footer>site chrome</footer></body></html>"))
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", page.alias("html")))
    return (extract_text(docs, "html", min_words=1)
            .select("doc_id", "page.title", "page.text",
                    "page.n_blocks_kept", "page.n_blocks_dropped"))


@query(r"""
    WITH pages AS (
      SELECT doc_id,
             'Doc ' || CAST(doc_id AS VARCHAR) AS title,
             trim(regexp_replace(text,
                  '[ \t\r\n\f\v]+', ' ', 'g')) AS text
      FROM documents),
    toks AS (
      SELECT doc_id, title, text,
             regexp_split_to_array(trim(text), '\s+') AS t
      FROM pages),
    feat AS (
      SELECT doc_id, title,
             len(t) AS nw,
             CASE WHEN len(t) > 0 THEN
               CAST(length(array_to_string(t, '')) AS DOUBLE)
               / len(t) ELSE 0.0 END AS mwl,
             CASE WHEN len(t) > 0 THEN
               CAST((len(string_split(text, '#')) - 1)
                    + (len(string_split(text, '...')) - 1)
                    AS DOUBLE) / len(t) ELSE 0.0 END AS symr,
             CASE WHEN len(t) > 0 THEN
               CAST(len(list_filter(t,
                    x -> regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(t) ELSE 0.0 END AS alphaf
      FROM toks)
    SELECT doc_id, title, nw AS n_tokens
    FROM feat
    WHERE nw >= 50 AND nw <= 100000
      AND mwl >= 3.0 AND mwl <= 10.0
      AND symr <= 0.1
      AND alphaf >= 0.8
    ORDER BY doc_id
""")
def crawl_e2e(spark, sf_dir):
    """FLAGSHIP front half of the curation pipeline — raw crawl →
    clean filtered text: synthesize pages (title + nav/linkfarm/footer
    chrome around each document), shard them into a Common Crawl-style
    .warc.gz (io/warc.py), read the archive back distributed, strip
    the HTTP envelopes, extract boilerplate-free text (llm/htmltext),
    then Gopher-rule quality filtering and token counting. The DuckDB
    twin rebuilds the expected extraction (same whitespace-collapse
    class) and replays the Gopher flags + token count on it. Chains
    into curation_e2e's dedup→decontam→DSIR→pack back half."""
    from meza_spark.io.warc import read_warc, records2warc_sharded
    from meza_spark.llm.htmltext import extract_text

    esc = F.col("text")
    for pat, rep in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(pat), F.lit(rep))
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title></head><body>"
              "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"
              "<p>"), esc,
        F.lit("</p><footer>site chrome</footer></body></html>"))
    docs = (_t(spark, sf_dir, "documents")
            .select(F.concat(F.lit("https://corpus.example/"),
                             F.col("doc_id").cast("string")).alias("url"),
                    page.alias("html")))
    # sharded archive write (r8 verdict task #2): the single-artifact
    # records2warc funnels every page through the driver serially —
    # measured super-linear in the factor-10 slope sample (15.3×).
    # The executor-parallel segment layout is also what a real crawl
    # snapshot looks like on disk.
    path = _rt_path(sf_dir, "crawl.warcdir")
    records2warc_sharded(docs, path, url_col="url", payload_col="html",
                         shards=32)
    pages = (read_warc(spark, path)
             .select(F.regexp_extract("target_uri", r"/(\d+)$", 1)
                     .cast("long").alias("doc_id"),
                     F.decode("payload", "UTF-8").alias("html")))
    extracted = (extract_text(pages, "html")
                 .select("doc_id", F.col("page.title").alias("title"),
                         F.col("page.text").alias("text")))
    # stopword rule deliberately not applied: the synthetic corpus
    # isn't English prose, so the marker-stopword rule would zero it
    kept = tx.gopher_filter(extracted).where(
        "gopher_word_count_ok AND gopher_mean_word_length_ok "
        "AND gopher_symbol_ratio_ok AND gopher_alpha_word_frac_ok")
    return (tx.token_count(kept)
            .select("doc_id", "title", "n_tokens")
            )


@query("""
    SELECT p_partkey,
           CASE WHEN p_partkey % 5 = 0
                  THEN '$' || CAST(p_partkey AS VARCHAR) || '.50'
                WHEN p_partkey % 5 = 1
                  THEN '0' || CAST(p_partkey AS VARCHAR)
                WHEN p_partkey % 5 = 2 THEN 'n/a'
                WHEN p_partkey % 5 = 3 THEN 'y'
                ELSE '1,' || lpad(CAST(p_partkey % 1000 AS VARCHAR),
                                  3, '0') END AS s,
           p_partkey % 5 IN (0, 4) AS is_num,
           p_partkey % 5 = 4 AS is_int,
           p_partkey % 5 = 3 AS is_bool,
           p_partkey % 5 = 2 AS is_null_word
    FROM part
""")
def type_predicates(spark, sf_dir):
    """meza's currency-aware type predicates as JVM Column exprs
    (ref: meza/fntools.py:454-586): '$12.50' numeric, '0123' NOT
    numeric (leading zero), 'n/a' a null word, 'y' a bool."""
    from meza_spark.functions import (is_bool_col, is_int_col,
                                      is_null_col, is_numeric_col)

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    messy = (F.when(k % 5 == 0, F.concat(F.lit("$"), k.cast("string"),
                                         F.lit(".50")))
              .when(k % 5 == 1, F.concat(F.lit("0"), k.cast("string")))
              .when(k % 5 == 2, F.lit("n/a"))
              .when(k % 5 == 3, F.lit("y"))
              .otherwise(F.concat(F.lit("1,"), F.lpad((k % 1000)
                         .cast("string"), 3, "0"))))
    return p.select(
        "p_partkey", messy.alias("s"),
        is_numeric_col(messy).alias("is_num"),
        is_int_col(messy).alias("is_int"),
        is_bool_col(messy).alias("is_bool"),
        is_null_col(messy).alias("is_null_word"))


@query(f"""
    WITH w AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
               - 3600 * k AS ws, value
      FROM events CROSS JOIN (VALUES (0), (1)) AS off(k))
    SELECT ws, COUNT(*) AS n, {dsum('value')} AS sum_value
    FROM w GROUP BY ws
""")
def stream_sliding_static(spark, sf_dir):
    """streaming.sliding_window_agg (2h window, 1h slide) on a static
    frame; oracle unrolls each event into its two covering windows."""
    from meza_spark.streaming import sliding_window_agg

    ev = _t(spark, sf_dir, "events")
    out = sliding_window_agg(ev, "ts", "2 hours", "1 hour",
                             {"n": ("value", "count"),
                              "sum_value": ("value", _dsum)})
    return out.select(F.unix_timestamp("window_start").alias("ws"),
                      "n", "sum_value")


@query("""
    SELECT (SELECT n_name FROM nation WHERE n_nationkey = 3) AS a,
           (SELECT n_regionkey FROM nation WHERE n_nationkey = 7) AS b
""")
def merge_union(spark, sf_dir):
    """merge() union form (no op): coalescing dict-union — last
    non-null per column (ref: meza/process.py:507-509). Each column is
    non-null on exactly one row so the fold is deterministic."""
    n = _t(spark, sf_dir, "nation")
    holey = n.select(
        F.when(F.col("n_nationkey") == 3, F.col("n_name")).alias("a"),
        F.when(F.col("n_nationkey") == 7, F.col("n_regionkey")).alias("b"))
    return pr.merge(holey)


@query("""
    SELECT c_mktsegment,
           array_to_string(list_transform(
             list_sort(list(c_custkey)),
             x -> CAST(x AS VARCHAR)), ',') AS ids
    FROM customer GROUP BY c_mktsegment
""")
def group_collect(spark, sf_dir):
    """group() default aggregator=list (ref: meza/process.py:566-567):
    per-key member lists, sorted for determinism."""
    c = _t(spark, sf_dir, "customer")
    g = pr.group(c.select("c_mktsegment", "c_custkey"), "c_mktsegment",
                 aggs={"ids": ("c_custkey", "collect_list")})
    # comma-joined string (scalar) so the driver's pandas canonicalizer
    # can sort the column (array cells are unhashable — r2 verdict #1)
    return g.select("c_mktsegment", F.array_join(
        F.transform(F.sort_array("ids"), lambda x: x.cast("string")),
        ",").alias("ids"))


@query("""
    SELECT o_orderpriority,
           MAX(o_totalprice) - MIN(o_totalprice) AS price_range
    FROM orders GROUP BY o_orderpriority
""")
def udaf_range(spark, sf_dir):
    """Arbitrary Python aggregator per group (meza's `op`/`aggregator`
    callables, SURVEY §2.9) as a pandas GROUPED_AGG UDAF — Arrow-batched,
    partial-agg free, order-insensitive (max-min) so it oracles exactly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def prange(v: pd.Series) -> float:
        return float(v.max() - v.min())

    o = _t(spark, sf_dir, "orders")
    return pr.group(o, "o_orderpriority",
                    aggs={"price_range": ("o_totalprice", prange)})


@query("""
    SELECT o_orderkey, o_custkey, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
""")
def join_salted(spark, sf_dir):
    """Skew-resistant salted join — salt placement is random but the
    JOIN RESULT is salt-invariant, so it oracles as a plain join."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    j = pr.salted_join(o, c, on="o_custkey", salt=8)
    return j.select("o_orderkey", "o_custkey", "c_mktsegment")


@query("""
    WITH p AS (SELECT user_id, ts, MAX(value) AS p_value
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id, ts),
    m AS (
      SELECT e.event_id, e.user_id, e.ts AS ets, p.ts AS pts,
             p.p_value
      FROM events e ASOF LEFT JOIN p
        ON e.user_id = p.user_id AND e.ts <= p.ts)
    SELECT event_id, user_id,
           CASE WHEN pts - ets <= INTERVAL 2 HOUR
                THEN CAST(floor(epoch(pts)) AS BIGINT) END AS p_ts_epoch,
           CASE WHEN pts - ets <= INTERVAL 2 HOUR
                THEN p_value END AS p_value
    FROM m
""")
def join_asof_fwd(spark, sf_dir):
    """Forward as-of with tolerance: each event matched to the user's
    NEXT purchase within 2 hours."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("p_value")))
    left = ev.select("event_id", "user_id", "ts")
    out = pr.asof_join(left, purchases, on="ts", by=["user_id"],
                       direction="forward", tolerance=7200.0)
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts_right").alias("p_ts_epoch"), "p_value")


@query("""
    SELECT l_returnflag, SUM(l_quantity) AS sum_qty,
           COUNT(l_quantity) AS n, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
""")
def agg_salted(spark, sf_dir):
    """Two-phase salted aggregation (hot-key safe) — result is
    salt-invariant, so it oracles as a plain GROUP BY."""
    li = _t(spark, sf_dir, "lineitem")
    out = pr.salted_agg(li, "l_returnflag",
                        {"sum_qty": ("l_quantity", "sum"),
                         "n": ("l_quantity", "count"),
                         "max_qty": ("l_quantity", "max")}, salt=8)
    return out.select("l_returnflag", "sum_qty", "n", "max_qty")


@query
def embed_ann_ivf(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer, nprobe cells probed) —
    centroids from the seeded deterministic numpy fit → VALUES-pinned
    oracle (tools/pin_oracles.py) at the driver's correctness SF."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return sim.ivf_ann_topk(emb, q, k=10, nlist=8, nprobe=3)


@query("""
    SELECT MAX(p_partkey) AS p_partkey, MAX(p_size) AS p_size,
           MAX(p_retailprice) AS p_retailprice
    FROM part
""")
def hello_world_pipeline(spark, sf_dir):
    """The reference's canonical pipeline (meza README.rst:91-133,
    SURVEY §3.2) end-to-end: write part to CSV → read_csv (all strings)
    → detect_types → type_cast → cut → merge(max). Gates the whole
    vertical slice: IO, inference, messy casts, projection, fold."""
    from meza_spark import typetools as tt
    from meza_spark.io.readers import read_csv
    from meza_spark.io.writers import records2csv

    path = f"/tmp/meza_hw_{os.path.basename(sf_dir.rstrip('/'))}.csv"
    records2csv(_t(spark, sf_dir, "part")
                .select("p_partkey", "p_name", "p_size", "p_retailprice"),
                path)
    raw = read_csv(spark, path)
    _, res = tt.detect_types(raw.orderBy(cv.to_int(F.col("p_partkey"))))
    casted = cv.type_cast(raw, res["types"])
    numeric = pr.cut(casted, ["p_name"], exclude=True)
    return pr.merge(numeric, op="max", pred=lambda c: True)


_REF_TEST = "/root/reference/data/test"
_REF_DATA = os.path.dirname(_REF_TEST)


# EXTERNAL golden gates: the twin is the reference's OWN
# published conversion file, read verbatim (all_varchar so the
# comparison is on the golden's exact text; COALESCE restores
# the empty cells DuckDB parses as NULL)
@query("""
    SELECT COALESCE(text,'') AS text,
           COALESCE("float",'') AS "float",
           COALESCE("datetime",'') AS "datetime",
           COALESCE("boolean",'') AS "boolean",
           COALESCE("time",'') AS "time",
           COALESCE("date",'') AS "date",
           COALESCE("integer",'') AS "integer"
    FROM read_csv('/root/reference/data/converted/json.csv',
                  header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_json(spark, sf_dir):
    """EXTERNAL golden gate (r6 verdict #1 under the DRIVER's hash):
    the reference's test.json through read→detect_types→type_cast,
    rendered to the reference's CSV text conventions; the DuckDB twin
    reads the reference's OWN published conversion
    data/converted/json.csv verbatim. sf_dir is unused — the fixture
    corpus is the reference's, by design."""
    from meza_spark.io.readers import read_json

    return _meza_render(_detect_cast(
        read_json(spark, f"{_REF_TEST}/test.json")))


@query("""
    SELECT COALESCE(a,'') AS a, COALESCE(b,'') AS b,
           COALESCE(d,'') AS d
    FROM read_csv(
      '/root/reference/data/converted/json_multiline.csv',
      header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_json_multiline(spark, sf_dir):
    """newline.json (NDJSON) ≙ data/converted/json_multiline.csv."""
    from meza_spark.io.readers import read_ndjson

    return _meza_render(_detect_cast(
        read_ndjson(spark, f"{_REF_TEST}/newline.json")))


@query("""
    SELECT COALESCE(text,'') AS text,
           COALESCE("date",'') AS "date",
           COALESCE("integer",'') AS "integer",
           COALESCE("boolean",'') AS "boolean",
           COALESCE("float",'') AS "float",
           COALESCE("time",'') AS "time",
           COALESCE("datetime",'') AS "datetime",
           COALESCE(empty_column,'') AS empty_column
    FROM read_csv('/root/reference/data/converted/fixed.csv',
                  header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_fixed(spark, sf_dir):
    """fixed.txt (8-column width spec, golden header names)
    ≙ data/converted/fixed.csv — width slicing, the all-blank row,
    and the separator-mangled '41800000.01,' float field."""
    from meza_spark.io.readers import read_fixed_fmt

    fx = read_fixed_fmt(spark, f"{_REF_TEST}/fixed.txt",
                        [0, 18, 29, 33, 38, 50, 58, 77])
    fx = fx.toDF("text", "date", "integer", "boolean", "float", "time",
                 "datetime", "empty_column")
    return _meza_render(_detect_cast(fx))


@query("""
    SELECT COALESCE(statefp10,'') AS statefp10,
           COALESCE(cd111fp,'') AS cd111fp,
           COALESCE(geoid10,'') AS geoid10,
           COALESCE(namelsad10,'') AS namelsad10,
           COALESCE(lsad10,'') AS lsad10,
           COALESCE(cdsessn,'') AS cdsessn,
           COALESCE(mtfcc10,'') AS mtfcc10,
           COALESCE(funcstat10,'') AS funcstat10,
           COALESCE(aland10,'') AS aland10,
           COALESCE(awater10,'') AS awater10,
           COALESCE(intptlat10,'') AS intptlat10,
           COALESCE(intptlon10,'') AS intptlon10
    FROM read_csv('/root/reference/data/converted/dbf.csv',
                  header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_dbf(spark, sf_dir):
    """test.dbf ≙ data/converted/dbf.csv — zero-padded codes stay
    text, +signed coordinates cast float, N/F letters cast bool."""
    from meza_spark.io.readers import read_dbf

    return _meza_render(_detect_cast(
        read_dbf(spark, f"{_REF_TEST}/test.dbf")))


@query("""
    SELECT COALESCE(text,'') AS text,
           COALESCE("date",'') AS "date",
           COALESCE("integer",'') AS "integer",
           COALESCE("boolean",'') AS "boolean",
           COALESCE("float",'') AS "float",
           COALESCE("time",'') AS "time",
           COALESCE("datetime",'') AS "datetime",
           COALESCE(empty_column,'') AS empty_column,
           COALESCE(_unnamed,'') AS _unnamed
    FROM read_csv('/root/reference/data/converted/sheet_2.csv',
                  header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_sheet2(spark, sf_dir):
    """test.xlsx sheet 2 ≙ data/converted/sheet_2.csv. The fixture
    carries 1904-epoch serials without the workbookPr flag (proved by
    the golden itself and the same rows in test.json), hence
    date1904=True; the blank ninth header is the tabutils-era
    '_unnamed' in the golden and column_9 here."""
    from meza_spark.io.readers import read_xls

    df = read_xls(spark, f"{_REF_TEST}/test.xlsx", sheet=1,
                  date1904=True)
    return _meza_render(_detect_cast(df)
                        .withColumnRenamed("column_9", "_unnamed"))


@query("""
    SELECT COALESCE(id,'') AS id,
           COALESCE(prop0,'') AS prop0,
           COALESCE(prop1,'') AS prop1,
           COALESCE(geojson,'') AS geojson
    FROM read_csv('/root/reference/data/converted/geojson.csv',
                  header=true, all_varchar=true)
""", needs=_REF_DATA)
def golden_geojson(spark, sf_dir):
    """RFC 7946's canonical FeatureCollection (reconstructed verbatim
    from the public spec — the golden's source file is not checked
    in) through read_geojson(explode=False) ≙
    data/converted/geojson.csv: feature-level records, geometry
    serialized into a `geojson` column, heterogeneous prop1 widening
    to text with Python renderings ('0.0', "{'this': 'that'}")."""
    import json as _j

    from meza_spark.io.readers import read_geojson

    rfc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [102.0, 0.5]},
         "properties": {"prop0": "value0"}},
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[102.0, 0.0], [103.0, 1.0],
                                      [104.0, 0.0], [105.0, 1.0]]},
         "properties": {"prop0": "value0", "prop1": 0.0}},
        {"type": "Feature",
         "geometry": {"type": "Polygon",
                      "coordinates": [[[100.0, 0.0], [101.0, 0.0],
                                       [101.0, 1.0], [100.0, 1.0],
                                       [100.0, 0.0]]]},
         "properties": {"prop0": "value0",
                        "prop1": {"this": "that"}}}]}
    p = f"/tmp/meza_golden_rfc7946_{os.path.basename(sf_dir.rstrip('/'))}.geojson"
    with open(p, "w", encoding="utf-8") as f:
        _j.dump(rfc, f)
    return _meza_render(read_geojson(spark, p, explode=False))


@query(f"""
    SELECT n_name,
           {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
""")
def q5_local_supplier(spark, sf_dir):
    """TPC-H Q5-style: 6-table join, dims broadcast, the only shuffles
    are lineitem⋈orders (largest pair) and the final agg key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) &
        (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(c), (o.o_custkey == c.c_custkey) &
               (c.c_nationkey == s.s_nationkey))
         .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy("n_name").agg(_dsum(rev).alias("revenue"))
            )


@query("""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name, CAST(NULL AS VARCHAR) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS VARCHAR), NULL,
           CAST(n_regionkey AS VARCHAR)
    FROM nation
""")
def io_join_ragged(spark, sf_dir):
    """Multi-file concat with ragged schemas (meza io.join / csvstack):
    two CSVs with overlapping-but-different columns union with nulls."""
    from meza_spark.io.readers import io_join
    from meza_spark.io.writers import records2csv

    tag = os.path.basename(sf_dir.rstrip("/"))
    p1 = f"/tmp/meza_ioj_{tag}_a.csv"
    p2 = f"/tmp/meza_ioj_{tag}_b.csv"
    records2csv(_t(spark, sf_dir, "nation")
                .select("n_nationkey", "n_name"), p1)
    records2csv(_t(spark, sf_dir, "nation")
                .select("n_nationkey", "n_regionkey"), p2)
    return io_join(spark, p1, p2)


@query("""
    SELECT n_nationkey AS id,
           CAST((n_nationkey * 7) % 360 - 180 AS DOUBLE) AS lon,
           CAST((n_regionkey * 13) % 180 - 90 AS DOUBLE) AS lat
    FROM nation
""")
def geojson_roundtrip(spark, sf_dir):
    """GeoJSON write→read round-trip (meza's one nested format):
    nation as synthetic Points → records2geojson (FeatureCollection +
    bbox) → read_geojson (explode back to flat records)."""
    from meza_spark.io.readers import read_geojson
    from meza_spark.io.writers import records2geojson

    path = f"/tmp/meza_geo_{os.path.basename(sf_dir.rstrip('/'))}.geojson"
    pts = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"),
        F.lit("Point").alias("type"),
        (F.col("n_nationkey") * 7 % 360 - 180).cast("double").alias("lon"),
        (F.col("n_regionkey") * 13 % 180 - 90).cast("double").alias("lat"))
    records2geojson(pts, path)
    back = read_geojson(spark, path)
    return back.select(F.col("id").cast("bigint").alias("id"),
                       F.col("lon").cast("double").alias("lon"),
                       F.col("lat").cast("double").alias("lat"))


@query("""
    SELECT o_orderpriority, o_orderkey,
           NTILE(4) OVER w AS quartile,
           CUME_DIST() OVER w AS cd,
           ROW_NUMBER() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey)
""")
def window_dist(spark, sf_dir):
    """Distribution window functions: ntile / cume_dist / row_number."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
              .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey"))
    return o.select("o_orderpriority", "o_orderkey",
                    F.ntile(4).over(w).alias("quartile"),
                    F.cume_dist().over(w).alias("cd"),
                    F.row_number().over(w).alias("rn"))


@query("""
    SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
               THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
    )
""")
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30 min) of the event stream — batch
    twin of the streaming session window; one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    out = pr.sessionize(ev, "user_id", "ts", gap_seconds=1800,
                        tiebreak="event_id")
    return out.select("event_id", "user_id", "session_id")


def _profile_oracle(num_cols: list[str], str_cols: list[str],
                    table: str) -> str:
    """Generate the UNION-ALL differential oracle for ``profile`` —
    one SELECT per (column, metric), mirroring profile()'s metric set
    and value_num/value_str routing exactly."""
    parts = []
    for c in num_cols:
        parts += [
            f"SELECT '{c}' AS \"column\", 'count' AS metric, "
            f"CAST(COUNT({c}) AS DOUBLE) AS value_num, "
            f"CAST(NULL AS VARCHAR) AS value_str FROM {table}",
            f"SELECT '{c}', 'nulls', CAST(SUM(CASE WHEN {c} IS NULL "
            f"THEN 1 ELSE 0 END) AS DOUBLE), NULL FROM {table}",
            f"SELECT '{c}', 'distinct', "
            f"CAST(COUNT(DISTINCT {c}) AS DOUBLE), NULL FROM {table}",
            f"SELECT '{c}', 'min', CAST(MIN({c}) AS DOUBLE), NULL "
            f"FROM {table}",
            f"SELECT '{c}', 'max', CAST(MAX({c}) AS DOUBLE), NULL "
            f"FROM {table}",
            f"SELECT '{c}', 'mean', CAST(SUM(CAST({c} AS "
            f"DECIMAL(38,8))) AS DOUBLE) / COUNT({c}), NULL "
            f"FROM {table}",
        ]
    for c in str_cols:
        parts += [
            f"SELECT '{c}', 'count', CAST(COUNT({c}) AS DOUBLE), "
            f"CAST(NULL AS VARCHAR) FROM {table}",
            f"SELECT '{c}', 'nulls', CAST(SUM(CASE WHEN {c} IS NULL "
            f"THEN 1 ELSE 0 END) AS DOUBLE), NULL FROM {table}",
            f"SELECT '{c}', 'distinct', "
            f"CAST(COUNT(DISTINCT {c}) AS DOUBLE), NULL FROM {table}",
            f"SELECT '{c}', 'min', CAST(NULL AS DOUBLE), "
            f"CAST(MIN({c}) AS VARCHAR) FROM {table}",
            f"SELECT '{c}', 'max', NULL, CAST(MAX({c}) AS VARCHAR) "
            f"FROM {table}",
        ]
    return " UNION ALL ".join(parts)


@query(_profile_oracle(
    num_cols=["o_orderkey", "o_totalprice"],
    str_cols=["o_orderstatus"], table="orders"))
def profile_orders(spark, sf_dir):
    """Single-scan per-column profile (count/nulls/distinct/min/max/
    mean) over three orders columns, long form."""
    from meza_spark.profile import profile

    return profile(_t(spark, sf_dir, "orders"),
                   ["o_orderkey", "o_totalprice", "o_orderstatus"])


@query("""
    WITH c AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(
               (CAST(value AS DOUBLE) - 0.0) / 10.0) AS BIGINT),
             0), 9) AS bucket
      FROM events WHERE value IS NOT NULL),
    agg AS (SELECT bucket, COUNT(*) AS n FROM c GROUP BY bucket)
    SELECT t.bucket,
           CAST(t.bucket * 10.0 AS DOUBLE) AS lo,
           CAST((t.bucket + 1) * 10.0 AS DOUBLE) AS hi,
           COALESCE(agg.n, 0) AS n
    FROM range(10) t(bucket) LEFT JOIN agg USING (bucket)
""")
def histogram_value(spark, sf_dir):
    """Fixed-width histogram of events.value, explicit bounds (one
    scan + nbins-row aggregate), edge-bucket clamping exercised."""
    from meza_spark.profile import histogram

    return histogram(_t(spark, sf_dir, "events"), "value",
                     nbins=10, lo=0.0, hi=100.0)


@query("""
    WITH seen AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 2 = 0),
    newb AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 100000, text FROM documents
      WHERE doc_id % 2 = 0 AND doc_id < 50)
    SELECT n.doc_id FROM newb n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = n.text)
""")
def dedup_incremental(spark, sf_dir):
    """Bloom-gated incremental dedup of a 'new batch' against a 'seen
    corpus': seen = even doc_ids; new = odd doc_ids plus relabeled
    copies of some seen texts (guaranteed dups). Bloom pre-filter →
    exact anti-join on survivors — result is exact, hence oracle-able."""
    from meza_spark.llm.bloom import dedup_against

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    copies = (docs.where((F.col("doc_id") % 2 == 0)
                         & (F.col("doc_id") < 50))
              .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    new = docs.where(F.col("doc_id") % 2 == 1).unionByName(copies)
    kept = dedup_against(new, seen, on="text", fpr=0.01)
    return kept.select("doc_id")


@query(r"""
    WITH toks AS (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+9], ' ') AS g
      FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 10 + 2)) AS i) u
      WHERE len(t) >= 10)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM grams a JOIN grams b
      ON a.g = b.g AND a.doc_id < b.doc_id
""")
def ngram_span_dup(spark, sf_dir):
    """Exact duplicated-span pairs: docs sharing a verbatim 10-token
    window (hashed n-gram inverted index, JVM-side hashing)."""
    pairs = du.ngram_span_pairs(_t(spark, sf_dir, "documents"),
                                n=10, max_bucket=None)
    return pairs.select("id_a", "id_b")


@query(r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+')
             END AS tk,
             md5(CAST(doc_id AS VARCHAR) || '#0') AS ok
      FROM documents),
    nz AS (
      SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n, ok
      FROM t WHERE len(tk) > 0),
    o AS (
      SELECT doc_id, tk, n,
             coalesce(SUM(n) OVER (
               ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS g
      FROM nz),
    p AS (
      SELECT doc_id, CAST(s AS BIGINT) AS seq_id,
             greatest(s * 64, g) AS gs,
             least((s + 1) * 64, g + n) AS ge,
             list_slice(tk,
               CAST(greatest(s * 64, g) - g + 1 AS BIGINT),
               CAST(least((s + 1) * 64, g + n) - g AS BIGINT))
               AS piece
      FROM o, UNNEST(range(CAST(g // 64 AS BIGINT),
                           CAST((g + n - 1) // 64 + 1 AS BIGINT)))
           AS u(s))
    SELECT seq_id, CAST(SUM(ge - gs) AS INT) AS n_tokens,
           COUNT(*) AS n_docs,
           string_agg(array_to_string(piece, ' '), ' '
                      ORDER BY gs) AS text
    FROM p GROUP BY seq_id
""")
def pack_sequences(spark, sf_dir):
    """Concat-and-chunk training sequences (size 64): documents laid
    end-to-end in deterministic hash order, fixed-size token sequences
    spanning doc boundaries — the pretraining batch-prep op. Hash-gated
    against a DuckDB replay of the cumsum placement and slices."""
    from meza_spark.llm import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return sampling.pack_sequences(d, size=64)


@query(r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+')
             END AS tk
      FROM documents),
    c AS (
      SELECT doc_id, CAST(u.i AS INT) AS chunk_start,
             list_slice(tk, u.i + 1, u.i + 32) AS piece
      FROM t, UNNEST(range(0, ((len(tk) - 1) // 24) * 24 + 1, 24))
           AS u(i)
      WHERE len(tk) > 0)
    SELECT doc_id,
           CAST(chunk_start // 24 AS INT) AS chunk_id,
           chunk_start,
           CAST(len(piece) AS INT) AS chunk_n_tokens,
           array_to_string(piece, ' ') AS chunk
    FROM c
""")
def chunk_docs(spark, sf_dir):
    """Token-window chunking (size 32, overlap 8): one row per chunk
    with id/start/token-count/text — the context-window prep step.
    Row-local explode, no shuffle; hash-gated against a DuckDB replay
    of the same stride arithmetic and token slices."""
    from meza_spark.llm.text import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, size=32, overlap=8)


@query("""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#0'),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 40
""")
def sample_stratified_count(spark, sf_dir):
    """Exact-count per-stratum sampling: 40 docs per lang (hash-order
    selection, deterministic across partitioning/engines); strata
    smaller than the budget keep everything."""
    from meza_spark.llm.sampling import stratified_topk_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = [r["lang"] for r in d.select("lang").distinct().collect()]
    return stratified_topk_sample(d, "doc_id", "lang",
                                  {lg: 40 for lg in langs})


@query(r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, source || '|' || lang AS blk, text,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [trim(lower(text))]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM documents),
    seen AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
    newb AS (
      SELECT doc_id, blk, grams FROM sh WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 100000, blk, grams FROM sh
      WHERE doc_id % 2 = 0 AND doc_id < 60),
    survivors AS (
      SELECT n.* FROM newb n
      WHERE NOT EXISTS (
        SELECT 1 FROM seen s
        WHERE s.blk = n.blk
          AND CAST(len(list_filter(n.grams,
                x -> list_contains(s.grams, x))) AS DOUBLE)
              / len(list_distinct(list_concat(n.grams, s.grams)))
              >= 0.5)),
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM survivors a JOIN survivors b
        ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.grams,
              x -> list_contains(b.grams, x))) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams)))
            >= 0.5),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM survivors
      UNION
      SELECT e.d, r.l FROM edges e JOIN reach r ON e.s = r.v),
    labels AS (SELECT v, min(l) AS component FROM reach GROUP BY v)
    SELECT sv.doc_id
    FROM survivors sv JOIN labels lb ON sv.doc_id = lb.v
    WHERE lb.component = sv.doc_id
""")
def dedup_incremental_near(spark, sf_dir):
    """Incremental NEAR-dedup of a new batch against a seen corpus
    (fuzzy sibling of the bloom-gated exact dedup_incremental): seen =
    even doc_ids; new = odd doc_ids plus relabeled verbatim copies of
    some seen texts (guaranteed cross-dups). ngram method -> exact
    within (source,lang) blocks, fully deterministic; the DuckDB twin
    replays the cross-probe and the intra-batch reachability."""
    from meza_spark.llm.cluster import near_dedup_incremental

    docs = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", "source", "lang"))         .select("doc_id", "text", "blk")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    copies = (docs.where((F.col("doc_id") % 2 == 0)
                         & (F.col("doc_id") < 60))
              .select((F.col("doc_id") + 100000).alias("doc_id"),
                      "text", "blk"))
    new = docs.where(F.col("doc_id") % 2 == 1).unionByName(copies)
    kept = near_dedup_incremental(new, seen, method="ngram", n=3,
                                  min_jaccard=0.5, join_on="blk")
    return kept.select("doc_id")


# Winner election + cover replay on the window TEXT (Spark
# keys on xxhash64 of the same text); docs reassemble from
# surviving 0-based token indices, fully-covered or empty docs
# come back as ''.
@query(r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS tk
      FROM documents),
    w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(tk, i + 1, i + 10), ' ')
               AS gram
      FROM t, UNNEST(range(0, len(tk) - 9)) AS u(i)),
    f AS (
      SELECT gram, MIN(doc_id * 1048576 + pos) AS winner
      FROM w GROUP BY gram HAVING COUNT(*) >= 2),
    cov AS (
      SELECT DISTINCT w.doc_id, w.pos + j AS ix
      FROM w JOIN f USING (gram), UNNEST(range(0, 10)) AS o(j)
      WHERE w.doc_id * 1048576 + w.pos <> f.winner),
    toks AS (
      SELECT t.doc_id, tk[i + 1] AS tok, CAST(i AS BIGINT) AS ix
      FROM t, UNNEST(range(0, len(tk))) AS u(i)),
    kept AS (
      SELECT k.doc_id,
             string_agg(k.tok, ' ' ORDER BY k.ix) AS text
      FROM toks k LEFT JOIN cov
        ON k.doc_id = cov.doc_id AND k.ix = cov.ix
      WHERE cov.ix IS NULL
      GROUP BY k.doc_id)
    SELECT d.doc_id, coalesce(kept.text, '') AS text
    FROM documents d LEFT JOIN kept USING (doc_id)
""")
def dedup_span_rewrite(spark, sf_dir):
    """Duplicated-span REMOVAL (Lee-et-al rewrite step, r3): every
    10-token window occurring 2+ times corpus-wide is stripped from
    all but its first occurrence; documents are rebuilt from surviving
    tokens. Hash-gated: the DuckDB oracle replays the winner election
    and cover set on the window TEXT (Spark keys on xxhash64 of it)."""
    out = du.remove_duplicate_spans(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        n=10, min_count=2)
    return out.select("doc_id", "text")


@query("""
    WITH cents AS (SELECT vec_id AS cid, embedding AS ce
                   FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(
               list_sum(list_transform(list_zip(e.embedding, c.ce),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(c.ce,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS c
      FROM embeddings e CROSS JOIN cents c)
    SELECT vec_id, cid AS centroid_id, c AS cosine FROM (
      SELECT vec_id, cid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY c DESC, cid ASC) AS rn
      FROM scored) WHERE rn = 1
""")
def embed_centroid_assign(spark, sf_dir):
    """Nearest-centroid assignment against a fixed 8-vector codebook
    (vec_id < 8): broadcast argmax, deterministic → exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.where(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    return sim.nearest_centroid(emb, cents)


@query
def embed_kmeans(spark, sf_dir):
    """Learned k-means topic clusters (bounded-sample fit + broadcast
    assignment). Deterministic (hash-ordered sample + seeded numpy Lloyd) →
    VALUES-pinned oracle at the driver's correctness SF."""
    out = sim.kmeans_clusters(_t(spark, sf_dir, "embeddings"), k=8,
                              fit_sample=10_000)
    return out.select("vec_id", "centroid_id")


@query("SELECT * FROM nation")
def orc_roundtrip(spark, sf_dir):
    """Columnar sibling of csv_roundtrip: nation → write(orc) →
    read_orc; schema survives exactly (no stringly CSV contract)."""
    from meza_spark.io.readers import read_orc
    from meza_spark.io.writers import write

    path = f"/tmp/meza_rt_{os.path.basename(sf_dir.rstrip('/'))}_orc"
    write(_t(spark, sf_dir, "nation"), path, fmt="orc")
    return read_orc(spark, path)


@query("""
    SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name
    FROM region
""")
def xml_roundtrip(spark, sf_dir):
    """XML ingest: region serialized to flat XML driver-side (tiny dim
    table), then read_xml auto-detects the row tag and rebuilds
    records; values are stringly (markup contract, like CSV)."""
    from meza_spark.io.readers import read_xml

    path = f"/tmp/meza_rt_{os.path.basename(sf_dir.rstrip('/'))}.xml"
    rows = _t(spark, sf_dir, "region").collect()
    with open(path, "w", encoding="utf-8") as f:
        f.write("<regions>\n")
        for r in rows:
            f.write(f"  <region><r_regionkey>{r['r_regionkey']}"
                    f"</r_regionkey><r_name>{r['r_name']}</r_name>"
                    "</region>\n")
        f.write("</regions>\n")
    return read_xml(spark, path)


@query("""
    WITH chars AS (
      SELECT doc_id, substring(text, i, 1) AS ch, len(text) AS n
      FROM documents,
           LATERAL (SELECT UNNEST(range(1, len(text) + 1)) AS i) u
      WHERE len(text) > 0),
    per AS (SELECT doc_id, n, COUNT(*) AS c
            FROM chars GROUP BY doc_id, ch, n),
    ent AS (SELECT doc_id,
                   round(-SUM((CAST(c AS DOUBLE) / n)
                         * log2(CAST(c AS DOUBLE) / n)), 6)
                   AS char_entropy
            FROM per GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(e.char_entropy, 0.0) AS char_entropy
    FROM documents d LEFT JOIN ent e USING (doc_id)
""")
def llm_char_entropy(spark, sf_dir):
    """Shannon bits/char per document — row-local run-length fold,
    zero shuffle (vs the naive per-character explode)."""
    out = tx.char_entropy(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "char_entropy")


@query("""
    WITH q AS (SELECT quantile_cont(value, 0.05) AS lo,
                      quantile_cont(value, 0.95) AS hi
               FROM events)
    SELECT event_id,
           round(LEAST(GREATEST(CAST(value AS DOUBLE), lo), hi),
                 6) AS value_w
    FROM events, q
""")
def winsorize_value(spark, sf_dir):
    """Percentile clamp of events.value at [p5, p95] (exact mode so
    the DuckDB quantile_cont twin is bit-comparable)."""
    from meza_spark.profile import winsorize

    ev = _t(spark, sf_dir, "events")
    out = winsorize(ev, "value", 0.05, 0.95, exact=True, out="value_w")
    return out.select("event_id", F.round("value_w", 6).alias("value_w"))


@query("""
    SELECT l_suppkey, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM lineitem) AS share
    FROM lineitem GROUP BY l_suppkey
    ORDER BY n DESC, l_suppkey ASC LIMIT 10
""")
def skew_topkeys(spark, sf_dir):
    """Top-10 heaviest join keys with corpus share — the pre-join
    skew diagnostic feeding the salted_join decision."""
    from meza_spark.profile import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_suppkey",
                       top=10)


@query("""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
""")
def stream_enrich_static(spark, sf_dir):
    """streaming.stream_static_join on static frames — the identical
    broadcast enrich plan a micro-batch executes."""
    from meza_spark.streaming import stream_static_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    out = stream_static_join(ev, cust, on="user_id", how="left")
    return out.select("event_id", "user_id", "c_mktsegment")


@query("""
    SELECT 'orderkey_not_null' AS rule,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'price_range',
           COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL AND
             (o_totalprice < 0.0 OR o_totalprice > 100000.0))
    FROM orders
    UNION ALL
    SELECT 'status_regex',
           COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND
             NOT regexp_matches(o_orderstatus, '^(?:[FOP])$'))
    FROM orders
    UNION ALL
    SELECT 'cust_fk', COUNT(*)
    FROM orders o
    WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
""")
def check_constraints(spark, sf_dir):
    """Declarative DQ contract over orders: row-local rules in one
    scan + unique groupBy + FK anti-join → (rule, violations)."""
    from meza_spark.quality import check

    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return check(o, [
        {"name": "orderkey_not_null", "type": "not_null",
         "field": "o_orderkey"},
        {"name": "orderkey_unique", "type": "unique",
         "fields": ["o_orderkey"]},
        {"name": "price_range", "type": "range",
         "field": "o_totalprice", "lo": 0.0, "hi": 100000.0},
        {"name": "status_regex", "type": "regex",
         "field": "o_orderstatus", "pattern": "[FOP]"},
        {"name": "cust_fk", "type": "ref", "field": "o_custkey",
         "ref": cust, "ref_field": "c_custkey"},
    ])


@query("""
    WITH collapsed AS (
      SELECT event_id, user_id, event_type, ts FROM (
        SELECT event_id, user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS pet
        FROM events)
      WHERE pet IS DISTINCT FROM event_type)
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS vf,
           CAST(floor(epoch(lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)))
             AS BIGINT) AS vt
    FROM collapsed
""")
def scd2_events(spark, sf_dir):
    """Event log → SCD2 validity intervals per user, collapsing
    unchanged event_type runs (lag filter + lead close-off)."""
    ev = _t(spark, sf_dir, "events")
    out = pr.scd2_intervals(ev, "user_id", "ts", attrs=["event_type"],
                            collapse=True, tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "event_type",
        F.unix_timestamp("valid_from").alias("vf"),
        F.unix_timestamp("valid_to").alias("vt"))


@query("""
    SELECT event_id, user_id,
           first_value(event_type) OVER w AS first_et,
           last_value(event_type) OVER w AS last_et,
           nth_value(event_type, 2) OVER w AS second_et
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
""")
def window_firstlast(spark, sf_dir):
    """first_value / last_value / nth_value over per-user event-time
    frames (full-partition frame for last/nth determinism)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return ev.select(
        "event_id", "user_id",
        F.first_value("event_type").over(w).alias("first_et"),
        F.last_value("event_type").over(w).alias("last_et"),
        F.nth_value("event_type", 2).over(w).alias("second_et"))


@query(f"""
    SELECT {dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
""")
def q6_forecast(spark, sf_dir):
    """TPC-H Q6: pure filter + single agg — the predicate-pushdown
    showcase (all three filters reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                   & (F.col("l_shipdate") < F.lit("1997-01-01"))
                   & (F.col("l_discount").between(0.05, 0.07))
                   & (F.col("l_quantity") < 24))
    return sel.agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"))
                   .alias("revenue"))


@query("""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN
               ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN
               ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
""")
def q12_priority(spark, sf_dir):
    """TPC-H Q12 shape on the synthetic schema (no shipmode column):
    join + conditional aggregation (CASE inside SUM) — high/low
    order-priority line counts per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    sel = (li.where((F.col("l_shipdate") >= F.lit("1996-01-01"))
                    & (F.col("l_shipdate") < F.lit("1997-01-01")))
           .join(o, F.col("l_orderkey") == F.col("o_orderkey")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (sel.groupBy("l_returnflag").agg(
        F.sum(hi.cast("long")).alias("high_line_count"),
        F.sum((~hi).cast("long")).alias("low_line_count"))
        )


@query(f"""
    SELECT 100.0 * {dsum("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
           / {dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
""")
def q14_promo(spark, sf_dir):
    """TPC-H Q14 shape: join + conditional-ratio aggregate (ECONOMY
    parts' revenue share); part side broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sel = (li.where((F.col("l_shipdate") >= F.lit("1996-09-01"))
                    & (F.col("l_shipdate") < F.lit("1996-10-01")))
           .join(F.broadcast(p),
                 F.col("l_partkey") == F.col("p_partkey")))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0.0))
    return sel.agg(
        (F.lit(100.0) * _dsum(promo) / _dsum(rev)).alias("promo_revenue"))


def _zorder_oracle_expr(cols: list[str], bits: int) -> str:
    """Morton interleave as a flat OR of shift/mask terms — mirrors
    meza_spark.layout.zorder_key bit for bit."""
    k = len(cols)
    terms = [f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * k + j})"
             for i in range(bits) for j, c in enumerate(cols)]
    return " | ".join(terms)


@query(f"""
    SELECT l_orderkey, l_linenumber,
           {_zorder_oracle_expr(['l_partkey', 'l_suppkey'], 21)} AS z
    FROM lineitem
""")
def zorder_lineitem(spark, sf_dir):
    """Morton/Z-order key of (l_partkey, l_suppkey) — the layout
    clustering primitive; pure JVM bit interleave."""
    from meza_spark.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        zorder_key(["l_partkey", "l_suppkey"], bits=21).alias("z"))


@query("""
    SELECT l_suppkey, COUNT(*) AS est_count
    FROM lineitem GROUP BY l_suppkey
""")
def cms_suppkey_counts(spark, sf_dir):
    """Count-min sketch build (one distributed pass, tree-merged
    tables) + join-free broadcast lookup of every distinct supplier
    key. Width ≫ distinct keys here, so the fixed-hash estimates are
    collision-free and match exact counts — which is what the oracle
    checks; at real cardinalities the same op is ε-approximate."""
    from meza_spark.llm.sketch import build_cms, cms_lookup

    li = _t(spark, sf_dir, "lineitem")
    cms = build_cms(li, "l_suppkey", depth=5, width=1 << 13)
    keys = li.select("l_suppkey").distinct()
    return cms_lookup(keys, "l_suppkey", cms)


@query(r"""
    SELECT token, COUNT(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS token
      FROM documents WHERE trim(text) <> '')
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
""")
def vocab_top(spark, sf_dir):
    """Corpus vocabulary top-50: explode + map-side-combined count +
    TakeOrdered."""
    return tx.vocab_topk(_t(spark, sf_dir, "documents"), k=50)


@query(r"""
    WITH pairs AS (
      SELECT doc_id AS _id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    tf AS (SELECT _id, term, COUNT(*) AS tf
           FROM pairs GROUP BY _id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS _n FROM documents),
    scored AS (
      SELECT tf._id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * (ln(CAST(_n + 1 AS DOUBLE)
                               / (df + 1)) + 1), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT _id AS doc_id, term, tf, df, score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY _id
                ORDER BY score DESC, term ASC) AS rank
      FROM scored) WHERE rank <= 3
""")
def tfidf_terms(spark, sf_dir):
    """Per-doc top-3 characteristic terms by smoothed TF-IDF — one
    tokenize pass feeding tf and df aggregations."""
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@query("""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
""")
def hll_users_by_type(spark, sf_dir):
    """Mergeable per-key HLL sketches → distinct-user estimates
    (native DataSketches aggregate, JVM-side). Hash-gated via the same
    tolerance contract as approx_distinct: exact count + a pinned-true
    flag that the sketch estimate is within 5%."""
    from meza_spark.llm.hll import distinct_sketches, hll_estimate

    ev = _t(spark, sf_dir, "events")
    per = distinct_sketches(ev, "user_id", keys=["event_type"])
    est = per.select("event_type",
                     hll_estimate("sketch").cast("long")
                     .alias("approx_users"))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users")))
    j = est.join(exact, on="event_type")
    ok = (F.abs(F.col("approx_users") - F.col("exact_users"))
          <= F.greatest(F.col("exact_users") * 0.05, F.lit(1.0)))
    return j.select("event_type", "exact_users", ok.alias("within_bound"))


@query(r"""
    WITH messy AS (SELECT upper(r_name) || '!!' AS m_name,
                          r_regionkey AS m_key FROM region)
    SELECT r.r_regionkey, r.r_name, m.m_name, m.m_key
    FROM region r JOIN messy m
      ON trim(regexp_replace(lower(r.r_name), '[^a-z0-9]+', ' ', 'g'))
       = trim(regexp_replace(lower(m.m_name), '[^a-z0-9]+', ' ', 'g'))
""")
def join_normalized(spark, sf_dir):
    """Messy-key join: region names perturbed with case/punctuation
    noise still match via the normalized-key equi-join."""
    r = _t(spark, sf_dir, "region")
    messy = r.select(
        F.concat(F.upper(F.col("r_name")), F.lit("!!")).alias("m_name"),
        F.col("r_regionkey").alias("m_key"))
    out = pr.normalized_join(r, messy, left_on="r_name",
                             right_on="m_name")
    return out.select("r_regionkey", "r_name", "m_name", "m_key")


@query(r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+9], ' ') AS g
      FROM toks,
           LATERAL (SELECT UNNEST(range(1, len(t) - 10 + 2)) AS i) u
      WHERE len(t) >= 10),
    prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM grams a JOIN grams b
              ON a.g = b.g AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM prs
              UNION SELECT id_b, id_a FROM prs),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.l FROM edges e JOIN reach r ON e.s = r.v),
    labels AS (SELECT v, min(l) AS component
               FROM reach GROUP BY v)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN labels lb ON d.doc_id = lb.v
    WHERE lb.component = d.doc_id
""")
def dedup_span_e2e(spark, sf_dir):
    """Verbatim-span dedup end-to-end: 10-token exact-span pairs →
    connected components → keep min-doc_id per cluster (the
    substring-dedup pipeline, records in → records out)."""
    from meza_spark.llm.cluster import near_dedup

    docs = _t(spark, sf_dir, "documents")
    kept = near_dedup(docs, method="span", n=10, max_bucket=None)
    return kept.select("doc_id", "lang", "source", "n_chars")


@query("""
    WITH messy AS (
      SELECT substring(n_name, 1, 3) || 'X'
             || substring(n_name, 5) AS m_name,
             n_nationkey AS m_key
      FROM nation)
    SELECT n.n_nationkey, n.n_name, m.m_name, m.m_key,
           levenshtein(n.n_name, m.m_name) AS distance
    FROM nation n CROSS JOIN messy m
    WHERE levenshtein(n.n_name, m.m_name) <= 1
""")
def join_fuzzy_lev(spark, sf_dir):
    """Typo-tolerant join: nation names vs 1-edit-perturbed copies via
    JVM levenshtein (broadcast cross join at dim size)."""
    n = _t(spark, sf_dir, "nation")
    messy = n.select(
        F.concat(F.substring("n_name", 1, 3), F.lit("X"),
                 F.expr("substring(n_name, 5)")).alias("m_name"),
        F.col("n_nationkey").alias("m_key"))
    out = pr.fuzzy_join(n, messy, left_on="n_name", right_on="m_name",
                        max_distance=1)
    return out.select("n_nationkey", "n_name", "m_name", "m_key",
                      "distance")


@query("""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS p75
    FROM orders GROUP BY o_orderpriority
""")
def pct_by_priority(spark, sf_dir):
    """Exact per-group percentiles: p25/p50/p75 of order totals per
    priority (interpolated, DuckDB quantile_cont twin)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75")))


@query("""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > CAST(o.o_orderdate AS DATE)
                             + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def q4_exists(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS decorrelated to a left-semi join): count
    orders per priority having at least one late-shipped line. The
    semi-join carries only l_orderkey; Catalyst pushes the date filter
    to both scans."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sel = o.where((F.col("o_orderdate") >= F.lit("1996-01-01"))
                  & (F.col("o_orderdate") < F.lit("1996-07-01")))
    late = (li.join(sel.select("o_orderkey", "o_orderdate"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
            .where(F.col("l_shipdate")
                   > F.date_add(F.col("o_orderdate").cast("date"), 60))
            .select("l_orderkey").distinct())
    return (sel.join(late, sel["o_orderkey"] == late["l_orderkey"],
                     "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
            )


@query(f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           round({dsum("l_extendedprice * (1 - l_discount)")}, 4)
             AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""")
def q10_returned(spark, sf_dir):
    """TPC-H Q10: returned-item revenue per customer, top 20. Big join
    (lineitem × orders) shuffles on the key; customer and nation dims
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01")))
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(_dsum(rev), 4).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


@query("""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN (
        SELECT * FROM orders
        WHERE o_orderpriority <> '1-URGENT') o
        ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""")
def q13_custdist(spark, sf_dir):
    """TPC-H Q13: customer distribution by order count — LEFT join so
    zero-order customers count, double aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
                .groupBy(c["c_custkey"])
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            )


@query("""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice, sum_qty
    FROM orders
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 150) big
      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
""")
def q18_bigorders(spark, sf_dir):
    """TPC-H Q18: large-volume orders (HAVING sum(qty) > t), then
    re-join customer + lineitem for the report. The HAVING prunes to a
    tiny keyset that broadcasts into the final joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 150))
    return (o.join(big, o["o_orderkey"] == big["l_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .select("c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    "o_totalprice", "sum_qty")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(20))


@query(f"""
    WITH a AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,8)))
                  / COUNT(*) AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey % 5 AS cntry_grp,
           COUNT(*) AS numcust,
           round({dsum('c_acctbal')}, 4) AS totacctbal
    FROM customer, a
    WHERE c_acctbal > a.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000)
    GROUP BY cntry_grp ORDER BY cntry_grp
""")
def q22_idle_cust(spark, sf_dir):
    """TPC-H Q22 shape: customers above the average positive balance
    who never placed a big-ticket order — scalar subquery (one-row
    broadcast, decimal-exact avg) + left-anti join, grouped by nation
    bucket."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(38,8)"))
                     / F.count("*")).cast("double").alias("a")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("a")))
    big = o.where(F.col("o_totalprice") > 300000)
    idle = rich.join(big, rich["c_custkey"] == big["o_custkey"],
                     "left_anti")
    return (idle.groupBy((F.col("c_nationkey") % 5).alias("cntry_grp"))
            .agg(F.count("*").alias("numcust"),
                 F.round(_dsum("c_acctbal"), 4).alias("totacctbal"))
            )


@query("""
    WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
               FROM orders),
    src AS (
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice * 1.1, 4) AS o_totalprice
      FROM o WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', o_totalprice
      FROM o WHERE o_orderkey % 97 = 0)
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NOT NULL
                THEN t.o_orderstatus ELSE s.o_orderstatus
                END AS o_orderstatus,
           round(CASE
             WHEN t.o_orderkey IS NOT NULL
                  AND s.o_orderkey IS NOT NULL THEN s.o_totalprice
             WHEN t.o_orderkey IS NOT NULL THEN t.o_totalprice
             ELSE s.o_totalprice END, 4) AS o_totalprice
    FROM o t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
""")
def merge_upsert(spark, sf_dir):
    """MERGE INTO (upsert) gate: apply a derived change-set (10% price
    updates + key-shifted inserts) to orders via one full-outer join."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (o.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_totalprice",
                           F.round(F.col("o_totalprice") * 1.1, 4)))
    inserts = (o.where(F.col("o_orderkey") % 97 == 0)
               .select((F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                       F.lit("N").alias("o_orderstatus"),
                       F.col("o_totalprice")))
    src = updates.unionByName(inserts)
    out = pr.merge_into(o, src, on="o_orderkey",
                        update_cols=["o_totalprice"])
    return out.select("o_orderkey", "o_orderstatus",
                      F.round("o_totalprice", 4).alias("o_totalprice"))


@query("""
    WITH c AS (SELECT lang, COUNT(*) AS cnt
               FROM documents GROUP BY lang),
    r AS (SELECT lang,
                 round(pow(cnt, -0.5)
                       / (SELECT max(pow(cnt, -0.5)) FROM c), 6)
                   AS rate
          FROM c)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r USING (lang)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '#1'), 1, 15)
          < CASE WHEN rate >= 1.0 THEN 'g'
                 ELSE printf('%015x',
                      CAST(floor(rate * 1152921504606846976.0)
                           AS BIGINT)) END
""")
def sample_temperature(spark, sf_dir):
    """Temperature (|D|^alpha) corpus mixing over the language strata —
    deterministic md5-threshold downsampling, exact oracle twin."""
    from meza_spark.llm.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(docs, "doc_id", "lang",
                              alpha=0.5, seed=1) \
        .select("doc_id", "lang", "source")


@query
def embed_ann_pq(spark, sf_dir):
    """Product-quantization ANN: 8-byte codes, ADC top-10 with exact
    refine of 4×k candidates. Deterministic seeded codebooks →
    VALUES-pinned oracle at the driver's correctness SF."""
    from meza_spark.llm.pq import pq_ann_topk, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    q = [(1.0 if i % 7 == 0 else 0.1) for i in range(64)]
    cb = pq_train(emb, m=8, nbits=6, fit_sample=2000, seed=13)
    enc = pq_encode(emb, cb)
    return pq_ann_topk(enc, q, cb, k=10, vec_col="embedding", refine=4)


@query
def embed_ann_ivfpq(spark, sf_dir):
    """IVF+PQ composite ANN (FAISS IVFx,PQy layout): coarse cells +
    residual PQ codes, 2-cell probe, exact refine. Deterministic
    seeded codebooks → VALUES-pinned oracle."""
    from meza_spark.llm.pq import ivfpq_ann_topk, ivfpq_encode, ivfpq_train

    emb = _t(spark, sf_dir, "embeddings")
    q = [(1.0 if i % 7 == 0 else 0.1) for i in range(64)]
    co, cb = ivfpq_train(emb, nlist=8, m=8, nbits=6, fit_sample=2000,
                         seed=13)
    enc = ivfpq_encode(emb, co, cb)
    return ivfpq_ann_topk(enc, q, co, cb, k=10, nprobe=3,
                          vec_col="embedding", refine=4)


@query(r"""
    WITH pairs AS (
      SELECT doc_id AS _id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    freq AS (SELECT term, COUNT(*) AS n FROM pairs GROUP BY term),
    tot AS (SELECT SUM(n) AS total FROM freq),
    scored AS (
      SELECT _id, COUNT(*) AS n_tokens,
             CAST(SUM(CAST(ln(n / total) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS lp
      FROM pairs JOIN freq USING (term) CROSS JOIN tot
      GROUP BY _id)
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           round(s.lp, 6) AS logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s._id
""")
def llm_logprob(spark, sf_dir):
    """Unigram log-probability quality scoring (perplexity proxy):
    corpus-trained frequency table, broadcast scoring join, decimal
    per-doc mean."""
    from meza_spark.llm.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@query
def dedup_semantic(spark, sf_dir):
    """SemDeDup end-to-end: k-means cells → within-cell cosine pairs →
    connected components → keep min-id. Deterministic seeded fit →
    VALUES-pinned oracle at the driver's correctness SF."""
    from meza_spark.llm.cluster import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    kept = semantic_dedup(emb, k_clusters=8, threshold=0.98,
                          fit_sample=2000, seed=7)
    return kept.select("vec_id", "label")


# ---------------------------------------------------------------------------
# TPC-H completion (round 2): the 11 remaining query shapes, adapted to
# the reduced schema (no partsupp — lineitem's (l_partkey, l_suppkey)
# pairs stand in; no commit/receipt dates — returnflag stands in for
# "late"). Each plan is the one you'd want at 100 TB: dims broadcast,
# fact shuffles only on join/agg keys, scalar subqueries as one-row
# broadcasts.
# ---------------------------------------------------------------------------

@query("""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    j AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
             MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS mn
      FROM ps
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'LARGE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM j WHERE s_acctbal = mn
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
""")
def q2_mincost(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part). partsupp proxy =
    distinct (l_partkey, l_suppkey); cost proxy = s_acctbal. One fact
    shuffle (distinct on partkey, reused by the window min); supplier/
    nation/region/part all broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
    # broadcast-join the FILTERED part dim before the pair distinct:
    # the map-side join shrinks lineitem to matching parts first, so
    # the distinct shuffles a sliver, not every (part,supp) pair
    ps = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
          .select("l_partkey", "l_suppkey", "p_partkey", "p_name",
                  "p_size", "p_type").distinct())
    j = (ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
         .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    w = Window.partitionBy("p_partkey")
    return (j.withColumn("_min", F.min("s_acctbal").over(w))
            .where(F.col("s_acctbal") == F.col("_min"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                     "p_partkey")
            .limit(100))


@query(f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                         AND TIMESTAMP '1997-12-31'
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
""")
def q7_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations, both
    directions). nation/supplier/customer broadcast; the only big
    shuffle is lineitem⋈orders on orderkey."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) &
        (F.col("l_shipdate") <= F.lit("1997-12-31")))
    o = _t(spark, sf_dir, "orders")
    # pre-reduce BOTH fact inputs to the two nations before the big
    # orderkey shuffle: suppliers/customers outside {N3,N7} never ride
    # it (2/25 of each side instead of all of it); the asymmetric
    # pair filter then runs on the tiny joined remainder
    nations = ["NATION_3", "NATION_7"]
    n1 = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)) \
        .select(F.col("n_nationkey").alias("s_nk"),
                F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations)) \
        .select(F.col("n_nationkey").alias("c_nk"),
                F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
    c = _t(spark, sf_dir, "customer") \
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
    j = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
               li.l_orderkey == o.o_orderkey)
         .where(F.col("supp_nation") != F.col("cust_nation")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(_dsum(vol).alias("revenue"))
            )


@query("""
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
               THEN CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,8))
               ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,8))) AS DOUBLE)
           AS mkt_share
    FROM lineitem
    JOIN part      ON l_partkey = p_partkey
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1997-12-31'
    GROUP BY o_year ORDER BY o_year
""")
def q8_mktshare(spark, sf_dir):
    """TPC-H Q8 shape (national market share by year): conditional /
    total decimal sums, both cast to double before the divide so the
    quotient is bit-identical to the oracle's."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) &
        (F.col("o_orderdate") <= F.lit("1997-12-31")))
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    # region filter folds into the customer dim BEFORE it broadcasts:
    # only AMERICA customers (1/5) ride the build side
    nc = (_t(spark, sf_dir, "nation")
          .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
          .select(F.col("n_nationkey").alias("c_nk")))
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk")))
    j = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
               li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(ns), s.s_nationkey == F.col("s_nk")))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(38,8)")
    tgt = F.when(F.col("supp_nation") == "NATION_5", vol) \
        .otherwise(F.lit(0).cast("decimal(38,8)"))
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg((F.sum(tgt).cast("double") /
                  F.sum(vol).cast("double")).alias("mkt_share"))
            )


@query(f"""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           {dsum('l_extendedprice * (1 - l_discount)'
                 ' - p_retailprice * l_quantity * 0.1')}
           AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
""")
def q9_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year).
    supplycost proxy = 10% of p_retailprice. Filtered part broadcast;
    lineitem⋈orders is the one big shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    j = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(n), s.s_nationkey == n.n_nationkey))
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount")) -
              F.col("p_retailprice") * F.col("l_quantity") * 0.1)
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
            .agg(_dsum(amount).alias("sum_profit"))
            )


@query("""
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,8))) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey)
    SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS value
    FROM per_part,
         (SELECT SUM(v) AS tot, COUNT(*) AS n FROM per_part) t
    WHERE CAST(v AS DOUBLE) > CAST(t.tot AS DOUBLE) / t.n * 1.5
    ORDER BY value DESC, p_partkey
""")
def q11_value(spark, sf_dir):
    """TPC-H Q11 shape (important parts by shipped value, one region):
    per-part value vs a scalar global-total subquery — the total is a
    one-row broadcast, never a second fact scan at the consumer."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    j = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(38,8)")
    per_part = (j.groupBy("l_partkey")
                .agg(F.sum(val).alias("_v")))
    # barrier: the scalar-total branch would otherwise RE-EXECUTE the
    # whole join+agg subtree (Catalyst doesn't dedupe common
    # subplans); materialize the per-part frame once — it's one row
    # per part, orders of magnitude smaller than the fact
    per_part = lineage_cut(per_part)
    # threshold scales with SF: 1.5× the mean per-part value, not a
    # fixed fraction of the total (which would converge to zero rows
    # as the part count grows with the corpus)
    total = per_part.agg(F.sum("_v").alias("_tot"),
                         F.count("*").alias("_n"))
    return (per_part.crossJoin(F.broadcast(total))
            .where(F.col("_v").cast("double") >
                   F.col("_tot").cast("double") / F.col("_n") * 1.5)
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.col("_v").cast("double").alias("value"))
            )


@query("""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,8))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE r = (SELECT MAX(r) FROM rev)
    ORDER BY s_suppkey
""")
def q15_topsupp(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by quarterly revenue): revenue
    agg per supplier, max as a one-row broadcast, equality on exact
    decimals (never doubles) so ties are well-defined."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) &
        (F.col("l_shipdate") < F.lit("1996-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(38,8)")).alias("_rev")))
    # scalar max via a window over the ALREADY-AGGREGATED frame (one
    # row per supplier — bounded), not a second agg subtree: Catalyst
    # doesn't dedupe common subplans, so `rev.agg(max)` would re-scan
    # lineitem. partitionBy(lit(1)) = one partition of a small frame.
    w = Window.partitionBy(F.lit(1))
    s = _t(spark, sf_dir, "supplier")
    return (rev.withColumn("_mx", F.max("_rev").over(w))
            .where(F.col("_rev") == F.col("_mx"))
            .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .select(F.col("s_suppkey"), F.col("s_name"),
                    F.col("_rev").cast("double").alias("total_revenue"))
            )


@query("""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def q16_partcnt(spark, sf_dir):
    """TPC-H Q16 shape (supplier counts per part attribute group).
    partsupp proxy = distinct lineitem pairs; "complaint" suppliers
    proxy = negative balance, excluded via broadcast anti-join."""
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO") &
        F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    # both broadcast filters run map-side BEFORE the pair distinct —
    # the shuffle carries only qualifying (part,supp) pairs
    j = (li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                 "left_anti")
         .join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .select("l_suppkey", "p_brand", "p_type", "p_size").distinct())
    return (j.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            )


@query(f"""
    WITH fact AS (
      SELECT l_partkey AS p_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'),
    avg_q AS (
      SELECT p_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,8)))
                  AS DOUBLE) / COUNT(*) AS a
      FROM fact GROUP BY p_partkey)
    SELECT {dsum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM fact JOIN avg_q USING (p_partkey)
    WHERE l_quantity < 0.2 * a
""")
def q17_smallqty(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity revenue): correlated
    avg-per-part subquery decorrelated into a partkey agg joined back
    — both sides shuffle on partkey, AQE coalesces. One-row result."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL"))
    fact = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    # the correlated avg as a PARTITIONED WINDOW instead of an agg
    # joined back: one partkey shuffle, one subtree — the join form
    # re-executed the broadcast-join fact scan for the agg branch
    # (Catalyst has no common-subplan reuse)
    w = Window.partitionBy("p_partkey")
    avg_q = (F.sum(F.col("l_quantity").cast("decimal(38,8)")).over(w)
             .cast("double") / F.count("*").over(w))
    return (fact.withColumn("_avg", avg_q)
            .where(F.col("l_quantity") < 0.2 * F.col("_avg"))
            .agg((_dsum("l_extendedprice") / 7.0).alias("avg_yearly")))


@query(f"""
    SELECT {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
""")
def q19_disjunct(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive brand/size/quantity predicates):
    one broadcast join, one OR-of-conjunctions filter, one scalar agg
    — Catalyst pushes the common partkey equi-join below the ORs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (((b == "Brand#12") & z.between(1, 5) & q.between(1, 11)) |
            ((b == "Brand#23") & z.between(1, 10) & q.between(10, 20)) |
            ((b == "Brand#15") & z.between(1, 15) & q.between(20, 30)))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(cond).agg(_dsum(rev).alias("revenue"))


@query("""
    WITH per_pair AS (
      SELECT p_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY p_partkey, l_suppkey),
    hot AS (
      SELECT DISTINCT l_suppkey FROM (
        SELECT l_suppkey, qty,
               SUM(qty) OVER (PARTITION BY p_partkey) AS tot
        FROM per_pair)
      WHERE qty > 0.3 * tot)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM hot)
    ORDER BY s_name
""")
def q20_promo(spark, sf_dir):
    """TPC-H Q20 shape (suppliers holding excess promo stock): a
    supplier qualifies when its 1996 shipped quantity of some red part
    exceeds 30% of that part's total — per-(part,supplier) agg vs a
    per-part window total, then a semi-join down to suppliers."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) &
        (F.col("l_shipdate") < F.lit("1997-01-01")))
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    fact = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_pair = (fact.groupBy("p_partkey", "l_suppkey")
                .agg(F.sum("l_quantity").alias("_qty")))
    w = Window.partitionBy("p_partkey")
    hot = (per_pair.withColumn("_tot", F.sum("_qty").over(w))
           .where(F.col("_qty") > 0.3 * F.col("_tot"))
           .select("l_suppkey").distinct())
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (s.join(hot, s.s_suppkey == hot.l_suppkey, "left_semi")
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select("s_name", "n_name"))


@query("""
    WITH fin AS (
      SELECT l_orderkey, l_suppkey, l_returnflag
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'),
    stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS ns,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                            THEN l_suppkey END) AS nr
      FROM fin GROUP BY l_orderkey)
    SELECT s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey
          FROM fin WHERE l_returnflag = 'R') b
    JOIN stats USING (l_orderkey)
    JOIN supplier ON b.l_suppkey = s_suppkey
    WHERE ns > 1 AND nr = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 100
""")
def q21_waiting(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): in
    finished multi-supplier orders, the unique supplier with returned
    ('R') lines takes the blame. The exists/not-exists pair is
    decorrelated into one per-order agg (ns>1, nr=1) — a single
    orderkey shuffle instead of two correlated re-scans."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F") \
        .select("o_orderkey")
    fin = li.join(o, li.l_orderkey == o.o_orderkey)
    # single subtree: collapse to (order, supplier, has_r) pairs, then
    # compute ns/nr as PARTITIONED WINDOWS over those pairs — the
    # agg-joined-back form re-executed the fact join for each branch
    pairs = (fin.groupBy("l_orderkey", "l_suppkey")
             .agg(F.max((F.col("l_returnflag") == "R").cast("int"))
                  .alias("_has_r")))
    w = Window.partitionBy("l_orderkey")
    blamed = (pairs
              .withColumn("_ns", F.count("*").over(w))
              .withColumn("_nr", F.sum("_has_r").over(w))
              .where((F.col("_has_r") == 1) & (F.col("_ns") > 1) &
                     (F.col("_nr") == 1)))
    s = _t(spark, sf_dir, "supplier")
    return (blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
            .groupBy("s_name").agg(F.count("*").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(100))


@query(r"""
    WITH toksb AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE doc_id % 50 = 0),
    gb AS (
      SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
      FROM toksb,
           LATERAL (SELECT UNNEST(range(1, len(t) - 8 + 2)) AS i) u
      WHERE len(t) >= 8
      UNION
      -- whole-text fallback for sub-n benchmark docs (mirrors
      -- shingles_from_tokens' k<=0 branch)
      SELECT DISTINCT array_to_string(t, ' ') FROM toksb
      WHERE len(t) < 8),
    docs AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE doc_id % 50 <> 0),
    hits AS (
      SELECT DISTINCT doc_id
      FROM docs,
           LATERAL (SELECT UNNEST(range(1, len(t) - 8 + 2)) AS i) u
      WHERE len(t) >= 8
        AND array_to_string(t[i:i+7], ' ') IN (SELECT g FROM gb)
      UNION
      SELECT doc_id FROM docs
      WHERE len(t) < 8
        AND array_to_string(t, ' ') IN (SELECT g FROM gb))
    SELECT doc_id, doc_id IN (SELECT doc_id FROM hits)
           AS contaminated
    FROM documents WHERE doc_id % 50 <> 0
    ORDER BY doc_id
""")
def decontam_flag(spark, sf_dir):
    """Benchmark decontamination (flag mode): docs sharing a verbatim
    8-gram with the held-out benchmark slice (doc_id % 50 == 0) get
    contaminated=true. Benchmark gram hashes broadcast; the corpus
    never shuffles its text."""
    from meza_spark.llm.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    return (decontaminate(train, bench, n=8, mode="flag")
            .select("doc_id", "contaminated"))


@query(r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, source || '|' || lang AS blk,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [trim(lower(text))]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM documents),
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.01),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.l FROM edges e JOIN reach r ON e.s = r.v),
    labels AS (SELECT v, min(l) AS component FROM reach GROUP BY v)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN labels lb ON d.doc_id = lb.v
    QUALIFY row_number() OVER (
      PARTITION BY lb.component
      ORDER BY d.n_chars DESC, d.doc_id) = 1
""")
def dedup_near_best(spark, sf_dir):
    """Quality-aware near-dedup: same deterministic ngram-block
    clusters as dedup_near_e2e, but each cluster keeps its LONGEST
    member (ties → min doc_id) instead of the id minimum — the winner
    rule a training pipeline actually wants."""
    from meza_spark.llm.cluster import near_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", "source", "lang"))
    kept = near_dedup(docs, method="ngram", n=3, min_jaccard=0.01,
                      join_on="blk", keep="best", score_col="n_chars")
    return kept.select("doc_id", "lang", "source", "n_chars")


@query(r"""
    WITH toks AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents),
    feat AS (
      SELECT doc_id,
             len(t) AS nw,
             CASE WHEN len(t) > 0 THEN
               CAST(length(array_to_string(t, '')) AS DOUBLE)
               / len(t) ELSE 0.0 END AS mwl,
             CASE WHEN len(t) > 0 THEN
               CAST((len(string_split(text, '#')) - 1)
                    + (len(string_split(text, '...')) - 1)
                    AS DOUBLE) / len(t) ELSE 0.0 END AS symr,
             CASE WHEN len(t) > 0 THEN
               CAST(len(list_filter(t,
                    x -> regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(t) ELSE 0.0 END AS alphaf,
             len(list_filter(['the','and','of','to','is'],
                 s -> list_contains(
                     list_transform(t, x -> lower(x)), s)))
               AS nstop
      FROM toks),
    flags AS (
      SELECT doc_id,
             (nw >= 50 AND nw <= 100000) AS gopher_word_count_ok,
             (mwl >= 3.0 AND mwl <= 10.0)
               AS gopher_mean_word_length_ok,
             (symr <= 0.1) AS gopher_symbol_ratio_ok,
             (alphaf >= 0.8) AS gopher_alpha_word_frac_ok,
             (nstop >= 2) AS gopher_stopword_count_ok
      FROM feat)
    SELECT doc_id, gopher_word_count_ok,
           gopher_mean_word_length_ok, gopher_symbol_ratio_ok,
           gopher_alpha_word_frac_ok, gopher_stopword_count_ok,
           (gopher_word_count_ok AND gopher_mean_word_length_ok
            AND gopher_symbol_ratio_ok AND gopher_alpha_word_frac_ok
            AND gopher_stopword_count_ok) AS gopher_keep,
           array_to_string(list_filter([
             CASE WHEN NOT gopher_word_count_ok
                  THEN 'word_count' END,
             CASE WHEN NOT gopher_mean_word_length_ok
                  THEN 'mean_word_length' END,
             CASE WHEN NOT gopher_symbol_ratio_ok
                  THEN 'symbol_ratio' END,
             CASE WHEN NOT gopher_alpha_word_frac_ok
                  THEN 'alpha_word_frac' END,
             CASE WHEN NOT gopher_stopword_count_ok
                  THEN 'stopword_count' END],
             x -> x IS NOT NULL), ',') AS gopher_drop_reasons
    FROM flags ORDER BY doc_id
""")
def llm_gopher(spark, sf_dir):
    """Gopher quality rules over documents: per-rule booleans +
    composite keep + violated-rule reasons array."""
    docs = _t(spark, sf_dir, "documents")
    return (tx.gopher_filter(docs)
            .select("doc_id", "gopher_word_count_ok",
                    "gopher_mean_word_length_ok", "gopher_symbol_ratio_ok",
                    "gopher_alpha_word_frac_ok", "gopher_stopword_count_ok",
                    "gopher_keep",
                    # scalar string, not array<string>: driver pandas
                    # canonicalizer can't sort array cells (r2 verdict #1)
                    F.array_join("gopher_drop_reasons", ",")
                     .alias("gopher_drop_reasons"))
            )


@query(r"""
    WITH t AS (
      SELECT doc_id, text, length(text) AS nc,
             length(text) - length(regexp_replace(text,
                '[{}\[\]();=<>]', '', 'g')) AS nsym,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines
      FROM documents),
    f AS (
      SELECT doc_id,
             CASE WHEN nc > 0
                  THEN CAST(nsym AS DOUBLE) / nc
                  ELSE 0.0 END AS code_sym_frac,
             CASE WHEN len(lines) > 0 THEN
               CAST(len(list_filter(lines,
                    l -> regexp_matches(l, '^(  |\t)')))
                    AS DOUBLE) / len(lines)
               ELSE 0.0 END AS indent_line_frac,
             (CASE WHEN regexp_matches(text, '\bdef\b')
                   THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\breturn\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bimport\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bfunction\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bvar\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bconst\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bclass\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bpublic\b')
                     THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(text, '\bvoid\b')
                     THEN 1 ELSE 0 END) AS code_kw_hits
      FROM t)
    SELECT doc_id, code_sym_frac, indent_line_frac,
           code_kw_hits,
           (code_sym_frac >= 0.03
            AND (indent_line_frac >= 0.2
                 OR code_kw_hits >= 2)) AS is_code_like
    FROM f ORDER BY doc_id
""")
def llm_code_signals(spark, sf_dir):
    """Code-vs-prose routing signals (symbol density, indented-line
    fraction, word-bounded keyword hits, composite is_code_like) —
    row-local codegen, every ratio one IEEE division."""
    d = tx.code_signals(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "code_sym_frac", "indent_line_frac",
                    "code_kw_hits", "is_code_like")


@query(r"""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 30) || '.  ' || text || '! End?'
               AS text
      FROM documents),
    m AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([.!?])\s+',
                 '\1' || chr(30), 'g'), chr(30)) AS l
      FROM d)
    SELECT doc_id, i - 1 AS sent_idx, trim(l[i]) AS sentence
    FROM m, LATERAL unnest(generate_series(1, len(l))) AS u(i)
    WHERE length(trim(l[i])) >= 1
    ORDER BY doc_id, sent_idx
""")
def split_sentences_docs(spark, sf_dir):
    """Sentence explosion at terminal punctuation, ordering key
    included. Boundary-marker insertion + split (not a lookbehind) so
    the identical capture/backreference regex replays in RE2. The
    synthetic corpus has no sentence punctuation, so the query builds
    multi-sentence docs (prefix. text! End?) to actually exercise
    the boundaries."""
    from meza_spark.llm.text import split_sentences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.substring("text", 1, 30), F.lit(".  "),
                 F.col("text"), F.lit("! End?")).alias("text"))
    return split_sentences(docs)


@query("""
    SELECT doc_id,
      trim(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(
             '“' || text || '” —\tx  ' || lang
                || '  end',
             '[‘’‛]', '''', 'g'),
             '[“”‟]', '"', 'g'),
             '[–—―]', '-', 'g'),
             '[   ]', ' ', 'g'),
             '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
             '[ \t]+', ' ', 'g'),
             ' ?\n ?', '\n', 'g')) AS text
    FROM documents ORDER BY doc_id
""")
def llm_normalize(spark, sf_dir):
    """Text normalization gate: deterministically messy up documents
    (curly quotes, long dash, NBSP, tabs, double spaces) with JVM
    expressions, then normalize back — both steps mirrored in the
    DuckDB oracle. The optional NFKC pandas-UDF step is unit-tested
    (DuckDB has no NFKC)."""
    docs = _t(spark, sf_dir, "documents")
    messy = docs.withColumn("text", F.concat(
        F.lit("“"), F.col("text"), F.lit("” —\tx"),
        F.lit("  "), F.col("lang"), F.lit("  end")))
    return (tx.normalize_text(messy).select("doc_id", "text")
            )


def _pagerank_oracle(n_iter: int = 5, damping: float = 0.85,
                     digits: int = 9) -> str:
    """Unrolled power-iteration twin of meza_spark.graph.pagerank over
    the event-type transition graph: chained CTEs r0→r{n} replay the
    exact per-iteration decimal-accumulate + round schedule (recursive
    CTEs can't aggregate over the recursive term, so we unroll — the
    iteration count is a fixed query parameter in both engines)."""
    head = f"""
        WITH trans AS (
          SELECT event_type AS s,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS d
          FROM events),
        edges AS (
          SELECT s, d, CAST(COUNT(*) AS DOUBLE) AS w
          FROM trans WHERE d IS NOT NULL GROUP BY s, d),
        outw AS (
          SELECT s, CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS ow
          FROM edges GROUP BY s),
        verts AS (
          SELECT DISTINCT v FROM (
            SELECT s AS v FROM edges UNION ALL SELECT d FROM edges)),
        nn AS (SELECT COUNT(*) AS n FROM verts),
        r0 AS (
          SELECT v, round(1.0 / (SELECT n FROM nn), {digits}) AS r
          FROM verts)"""
    body = []
    for k in range(1, n_iter + 1):
        p = k - 1
        body.append(f"""
        d{p} AS (
          SELECT COALESCE(CAST(SUM(CAST(r AS DECIMAL(38,18)))
                               AS DOUBLE), 0.0) AS dm
          FROM r{p} WHERE v NOT IN (SELECT s FROM edges)),
        c{k} AS (
          SELECT e.d AS v,
                 CAST(SUM(CAST(r.r * e.w / o.ow AS DECIMAL(38,18)))
                      AS DOUBLE) AS cs
          FROM edges e JOIN r{p} r ON e.s = r.v
                       JOIN outw o ON e.s = o.s
          GROUP BY e.d),
        r{k} AS (
          SELECT verts.v,
                 round((1.0 - {damping}) / (SELECT n FROM nn)
                       + {damping} * (COALESCE(c{k}.cs, 0.0)
                                      + (SELECT dm FROM d{p})
                                        / (SELECT n FROM nn)),
                       {digits}) AS r
          FROM verts LEFT JOIN c{k} ON verts.v = c{k}.v)""")
    tail = f"""
        SELECT v AS event_type,
               CAST(floor(r * 1000000000 + 0.5) AS BIGINT) AS pr_nano
        FROM r{n_iter} ORDER BY event_type"""
    return head + "," + ",".join(body) + tail


@query(_pagerank_oracle(n_iter=5, damping=0.85, digits=9))
def graph_pagerank(spark, sf_dir):
    """Weighted PageRank over the event-type transition graph (edges =
    consecutive event pairs per user, weight = transition count) — the
    link-graph centrality prior a Common-Crawl-style pipeline uses for
    quality weighting. 5 power iterations, decimal-accumulated sums,
    per-iteration rounding; the DuckDB oracle replays the SAME 5
    iterations unrolled as chained CTEs, so ranks are hash-exact.
    Output in integer nano-units (engine-portable float transport)."""
    from pyspark.sql import Window

    from meza_spark.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("user_id", "ts", "event_id", "event_type")
             .withColumn("nxt", F.lead("event_type").over(w))
             .where(F.col("nxt").isNotNull())
             .groupBy(F.col("event_type").alias("src"),
                      F.col("nxt").alias("dst"))
             .agg(F.count(F.lit(1)).alias("w")))
    pr_df = pagerank(edges, weight="w", n_iter=5, round_digits=9)
    return (pr_df.select(F.col("v").alias("event_type"),
                         F.floor(F.col("pagerank") * 1e9 + F.lit(0.5))
                         .cast("long").alias("pr_nano"))
            )


@query("""
    WITH ed AS (
      SELECT DISTINCT l_orderkey AS a,
                      1000000 + l_suppkey AS b
      FROM lineitem),
    und AS (
      SELECT a, b FROM ed
      UNION
      SELECT b, a FROM ed),
    verts AS (SELECT DISTINCT a AS v FROM und),
    lab0 AS (SELECT v, v AS l FROM verts),
    c1 AS (
      SELECT u.a AS v, l.l AS nl, count(*) AS c
      FROM und u JOIN lab0 l ON l.v = u.b
      GROUP BY u.a, l.l),
    b1 AS (
      SELECT v, nl FROM (
        SELECT v, nl, row_number() OVER (
          PARTITION BY v ORDER BY c DESC, nl) AS rn
        FROM c1) WHERE rn = 1),
    lab1 AS (
      SELECT p.v, coalesce(b.nl, p.l) AS l
      FROM lab0 p LEFT JOIN b1 b ON b.v = p.v),
    c2 AS (
      SELECT u.a AS v, l.l AS nl, count(*) AS c
      FROM und u JOIN lab1 l ON l.v = u.b
      GROUP BY u.a, l.l),
    b2 AS (
      SELECT v, nl FROM (
        SELECT v, nl, row_number() OVER (
          PARTITION BY v ORDER BY c DESC, nl) AS rn
        FROM c2) WHERE rn = 1),
    lab2 AS (
      SELECT p.v, coalesce(b.nl, p.l) AS l
      FROM lab1 p LEFT JOIN b2 b ON b.v = p.v),
    c3 AS (
      SELECT u.a AS v, l.l AS nl, count(*) AS c
      FROM und u JOIN lab2 l ON l.v = u.b
      GROUP BY u.a, l.l),
    b3 AS (
      SELECT v, nl FROM (
        SELECT v, nl, row_number() OVER (
          PARTITION BY v ORDER BY c DESC, nl) AS rn
        FROM c3) WHERE rn = 1),
    lab3 AS (
      SELECT p.v, coalesce(b.nl, p.l) AS l
      FROM lab2 p LEFT JOIN b3 b ON b.v = p.v)
    SELECT v, l AS community FROM lab3 ORDER BY v
""")
def graph_lpa(spark, sf_dir):
    """Community detection by synchronous label propagation over the
    order↔supplier bipartite graph (lineitem edges, supplier ids
    offset into their own space): 3 fixed rounds, most-frequent
    neighbor label with smallest-label tie-break — all-integer, so
    the DuckDB twin unrolls the same 3 rounds as chained CTEs and
    hash-matches every vertex's community."""
    from meza_spark.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_orderkey").alias("src"),
                      (F.col("l_suppkey") + 1000000).alias("dst"))
    return (label_propagation(edges, n_iter=3)
            )


@query("""
    WITH d AS (
      SELECT l_orderkey AS v, 1 AS o, 0 AS i FROM lineitem
      UNION ALL
      SELECT 1000000 + l_suppkey AS v, 0 AS o, 1 AS i
      FROM lineitem)
    SELECT v, CAST(sum(o) AS BIGINT) AS out_degree,
           CAST(sum(i) AS BIGINT) AS in_degree,
           count(*) AS degree
    FROM d GROUP BY v ORDER BY v
""")
def graph_degrees(spark, sf_dir):
    """Per-vertex in/out/total degree over the order→supplier edge
    list (graph.degrees): one union + one agg, parallel edges count
    individually."""
    from meza_spark.graph import degrees

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_orderkey").alias("src"),
                      (F.col("l_suppkey") + 1000000).alias("dst"))
    return degrees(edges)


@query(r"""
    WITH pairs AS (
      SELECT doc_id AS _id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    freq AS (SELECT term, COUNT(*) AS n FROM pairs GROUP BY term),
    tot AS (SELECT SUM(n) AS total FROM freq),
    scored AS (
      SELECT _id, COUNT(*) AS n_tokens,
             CAST(SUM(CAST(ln(n / total) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS lp
      FROM pairs JOIN freq USING (term) CROSS JOIN tot
      GROUP BY _id),
    keyed AS (
      SELECT d.doc_id, d.lang,
             COALESCE(s.n_tokens, 0) AS n_tokens,
             round(s.lp, 6) AS logprob
      FROM documents d LEFT JOIN scored s ON d.doc_id = s._id)
    SELECT doc_id, lang, n_tokens, logprob,
           CAST(ntile(3) OVER (
             PARTITION BY lang
             ORDER BY logprob DESC NULLS LAST, doc_id)
           AS INTEGER) AS ppl_bucket
    FROM keyed ORDER BY doc_id
""")
def llm_ppl_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity bucketing: unigram-logprob
    score, then ntile(3) head/middle/tail within each language —
    deterministic (score desc, doc_id tiebreak) and SQL-replayable."""
    docs = _t(spark, sf_dir, "documents")
    return (tx.perplexity_buckets(docs, n_buckets=3)
            )


@query(r"""
    WITH corpus AS (
      SELECT doc_id, text, source || '|' || lang AS blk
      FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             substr(text, 1, CAST(n_chars // 2 AS INT)) AS text,
             source || '|' || lang AS blk
      FROM documents WHERE doc_id < 40),
    sh AS (
      SELECT doc_id, blk,
             list_distinct(CASE
               WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 3
               THEN [array_to_string(
                      regexp_split_to_array(trim(lower(text)), '\s+'), ' ')]
               ELSE list_transform(
                 range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1),
                 i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(lower(text)), '\s+')[i+2])
             END) AS grams
      FROM corpus)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(
             CAST(len(list_filter(a.grams,
                      x -> list_contains(b.grams, x))) AS DOUBLE)
             / least(len(a.grams), len(b.grams))
             * 1000000 + 0.5) AS BIGINT) AS cont_micro
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.grams,
                   x -> list_contains(b.grams, x))) AS DOUBLE)
          / least(len(a.grams), len(b.grams)) >= 0.5
    ORDER BY id_a, id_b
""")
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs: |A∩B| / min(|A|,|B|)
    over 3-gram shingles, blocked on (source,lang) — catches
    small-doc-quoted-in-big-doc pairs Jaccard misses (a half-length
    prefix scores containment ≈ 1.0 but Jaccard ≈ 0.5). The corpus
    has no natural subset pairs, so the query plants them: character-
    prefix snippets of docs < 40 re-enter as new ids — the quote-farm
    shape. Jaccard's size-ratio prune is deliberately absent from the
    operator. Hash-gated (micro-unit containment)."""
    from meza_spark.llm.dedup import ngram_containment

    docs = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", "source", "lang"))
    snips = (docs.where(F.col("doc_id") < 40)
             .select((F.col("doc_id") + 200000).alias("doc_id"),
                     F.expr("substring(text, 1, "
                            "cast(n_chars div 2 as int))").alias("text"),
                     "blk"))
    both = docs.select("doc_id", "text", "blk").unionByName(snips)
    pairs = ngram_containment(both, n=3, min_containment=0.5,
                              join_on="blk")
    return (pairs.select("id_a", "id_b",
                         F.floor(F.col("containment") * 1e6 + F.lit(0.5))
                         .cast("long").alias("cont_micro"))
            )


@query
def embed_pca(spark, sf_dir):
    """PCA projection of the embedding corpus to 8 dims (the ANN /
    SemDeDup pre-rotation): exact decimal-accumulated covariance in
    one distributed pass (order-free → bit-stable across engine
    configs), driver-side eigh, Arrow-batched projection. Output as
    comma-joined integer micro-units (scalar transport, r2 verdict
    #1). VALUES-pinned oracle (eigendecomposition is not
    SQL-expressible)."""
    from meza_spark.llm.pca import pca_project

    e = _t(spark, sf_dir, "embeddings")
    out = pca_project(e, vec_col="embedding", k=8, round_digits=6)
    return (out.select(
        "vec_id",
        F.concat_ws(",", F.transform(
            "pca",
            lambda x: F.floor(x * 1000000 + F.lit(0.5))
            .cast("long").cast("string"))).alias("pca_micro"))
        )


@query(r"""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#0'),
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum
      FROM documents)
    WHERE cum < 3000 ORDER BY doc_id
""")
def sample_budget(spark, sf_dir):
    """Token-budget corpus mixing: fill each source to a 3000-char
    budget in hash order (greedy prefix — the boundary row is kept).
    Exclusive running sum per stratum; exact integer arithmetic, so
    the DuckDB window twin matches hash-for-hash."""
    from meza_spark.llm.sampling import budget_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                              "n_chars")
    return (budget_sample(d, "doc_id", "source", "n_chars",
                          default=3000, seed=0)
            )


@query(r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
      UNION ALL
      SELECT doc_id + 300000,
             substr(text, 1, CAST(n_chars // 2 AS INT))
      FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 310000,
             substr(text, 1, CAST(n_chars // 4 AS INT))
      FROM documents WHERE doc_id % 50 = 0),
    gram5 AS (
      SELECT doc_id, list_distinct(CASE
        WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 5
        THEN [array_to_string(
               regexp_split_to_array(trim(lower(text)), '\s+'), ' ')]
        ELSE list_transform(
          range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 3),
          i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+2] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+3] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+4])
        END) AS grams FROM corpus),
    bgram AS (
      SELECT doc_id AS bench_id, list_distinct(CASE
        WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 5
        THEN [array_to_string(
               regexp_split_to_array(trim(lower(text)), '\s+'), ' ')]
        ELSE list_transform(
          range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 3),
          i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+2] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+3] || ' ' ||
               regexp_split_to_array(trim(lower(text)), '\s+')[i+4])
        END) AS grams
      FROM documents WHERE doc_id % 50 = 0),
    hits AS (
      SELECT DISTINCT t.doc_id
      FROM gram5 t, bgram b
      WHERE CAST(len(list_filter(b.grams,
                     x -> list_contains(t.grams, x))) AS DOUBLE)
            / len(b.grams) >= 0.4)
    SELECT c.doc_id, h.doc_id IS NOT NULL AS contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    ORDER BY c.doc_id
""")
def decontam_fuzzy(spark, sf_dir):
    """NEAR-match decontamination (flag mode): benchmark = the
    doc_id%50 slice; training docs whose benchmark-side 5-gram
    containment reaches 0.4 are flagged. The corpus has one natural
    cross-split verbatim pair, so the query also plants graded
    fragments of bench docs (half → caught at 0.4, quarter → passes)
    — the lightly-edited-leak shape verbatim 8-gram decontam and
    Jaccard both miss. Inverted-index probe: bench gram table
    broadcast, only (doc_id, bench_id) id pairs shuffle."""
    from meza_spark.llm.decontam import decontaminate_fuzzy

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text",
                                                 "n_chars")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    frag = lambda shift, den: (  # noqa: E731
        bench.select((F.col("doc_id") + shift).alias("doc_id"),
                     F.expr(f"substring(text, 1, "
                            f"cast(n_chars div {den} as int))")
                     .alias("text"), "n_chars"))
    train = (docs.where(F.col("doc_id") % 50 != 0)
             .unionByName(frag(300000, 2))
             .unionByName(frag(310000, 4)))
    out = decontaminate_fuzzy(train, bench, n=5, min_containment=0.4,
                              mode="flag")
    return out.select("doc_id", "contaminated")


@query("""
    WITH b AS (
      SELECT vec_id AS bench_id, embedding FROM embeddings
      WHERE vec_id % 37 = 0
        AND embedding IS NOT NULL AND len(embedding) > 0),
    c AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % 37 <> 0
        AND embedding IS NOT NULL AND len(embedding) > 0),
    pairs AS (
      SELECT c.vec_id, b.bench_id,
             list_sum(list_transform(
                 list_zip(c.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS cos
      FROM c, b),
    best AS (
      SELECT vec_id, bench_id,
             CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cosine_e4,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, bench_id) AS rn
      FROM pairs)
    SELECT vec_id, bench_id, cosine_e4
    FROM best WHERE rn = 1 AND cosine_e4 >= 3000
    ORDER BY vec_id
""")
def decontam_semantic(spark, sf_dir):
    """Embedding-space decontamination (paraphrase leakage the
    verbatim/fuzzy n-gram scans can't see): benchmark = the vec_id%37
    slice of `embeddings`, corpus = the rest; every corpus row whose
    max cosine against ANY bench embedding reaches 0.3 is flagged
    with its nearest bench id. The broadcast-bench matmul path is
    EXACT and shuffle-free (llm/decontam.py semantic_contamination);
    the DuckDB twin scores all pairs and takes the same quantized-
    units max/argmax."""
    from meza_spark.llm.decontam import semantic_contamination

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 37 == 0)
    corpus = emb.where(F.col("vec_id") % 37 != 0)
    return (semantic_contamination(corpus, bench, threshold=0.3)
            )


def _domain_weights_oracle(iters: int = 5, lr: float = 0.5,
                           smoothing: float = 0.1) -> str:
    """Unrolled multiplicative-weights twin of llm/mixing.py
    fit_domain_weights: chained CTEs i0→i{n} replay the exact
    quantize→boost→sum→normalize+smooth schedule (same IEEE +,*,/
    shapes, integer-micro state each round)."""
    head = """
        WITH stats AS (
          SELECT source AS domain, COUNT(*) AS n_docs,
                 SUM(CAST(floor(CAST(n_chars AS DOUBLE) * 1000000 + 0.5)
                          AS BIGINT)) AS s
          FROM documents GROUP BY source),
        m AS (
          SELECT domain, n_docs,
                 CAST(s // n_docs AS BIGINT) AS mean_micro
          FROM stats),
        i0 AS (
          SELECT domain, n_docs, mean_micro,
                 CASE WHEN MAX(mean_micro) OVER () = MIN(mean_micro) OVER ()
                      THEN 0.0
                      ELSE CAST(mean_micro - MIN(mean_micro) OVER ()
                                AS DOUBLE)
                           / CAST(MAX(mean_micro) OVER ()
                                  - MIN(mean_micro) OVER () AS DOUBLE)
                 END AS lam,
                 COUNT(*) OVER () AS k,
                 CAST(floor(1000000.0 / CAST(COUNT(*) OVER () AS DOUBLE)
                            + 0.5) AS BIGINT) AS w
          FROM m)"""
    step = """,
        i{next} AS (
          SELECT domain, n_docs, mean_micro, lam, k,
                 CAST(floor(((1 - {s}) * (CAST(b AS DOUBLE)
                                          / CAST(tb AS DOUBLE))
                             + {s} / CAST(k AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT) AS w
          FROM (SELECT *, SUM(b) OVER () AS tb
                FROM (SELECT *,
                             CAST(floor(CAST(w AS DOUBLE)
                                        * (1 + {lr} * lam) + 0.5)
                                  AS BIGINT) AS b
                      FROM i{prev})))"""
    body = "".join(step.format(next=i + 1, prev=i, lr=lr, s=smoothing)
                   for i in range(iters))
    return (head + body + f"""
        SELECT domain, n_docs, mean_micro AS mean_loss_micro,
               w AS weight_micro
        FROM i{iters} ORDER BY domain""")


@query(_domain_weights_oracle(iters=5, lr=0.5, smoothing=0.1))
def domain_weights(spark, sf_dir):
    """DoReMi-lite domain reweighting (llm/mixing.py): per-source mean
    loss (n_chars as the static loss signal) → 5 multiplicative-
    weights iterations with u-smoothing. Integer-micro state + the
    polynomial boost keep every step IEEE-exact, so the DuckDB twin
    unrolls the identical update as 5 chained CTEs and hash-matches
    the fitted weights bit-for-bit."""
    from meza_spark.llm.mixing import fit_domain_weights

    docs = _t(spark, sf_dir, "documents")
    return (fit_domain_weights(docs, "source", "n_chars",
                               iters=5, lr=0.5, smoothing=0.1)
            )


def _mixture_resample_oracle(iters: int = 5, lr: float = 0.5,
                             smoothing: float = 0.1,
                             seed: int = 0) -> str:
    """llm/mixing.py mixture_sample twin: the fitted-weights CTE chain
    (shared builder above, trailing SELECT stripped) feeds per-domain
    keep fractions f_d ∝ weight/share scaled so the peak domain keeps
    1.0, re-derives the SAME 16-hex md5 thresholds _hex_threshold
    bakes (floor to hugeint, split into two 32-bit hex halves —
    DuckDB printf can't %x a hugeint), and replays the coin flips."""
    chain = _domain_weights_oracle(iters, lr, smoothing)
    chain = chain[:chain.rindex("SELECT domain, n_docs")]
    return chain + f"""
        , fr AS (
          SELECT domain,
                 ((CAST(w AS DOUBLE) / 1000000.0)
                  * CAST(SUM(n_docs) OVER () AS DOUBLE))
                 / CAST(n_docs AS DOUBLE) AS raw
          FROM i{iters}),
        thr AS (
          SELECT domain,
                 CASE WHEN raw / MAX(raw) OVER () >= 1.0 THEN 'g'
                      ELSE printf('%08x%08x',
                        CAST(CAST(floor((raw / MAX(raw) OVER ())
                               * CAST(18446744073709551616 AS DOUBLE))
                             AS HUGEINT) // 4294967296 AS BIGINT),
                        CAST(CAST(floor((raw / MAX(raw) OVER ())
                               * CAST(18446744073709551616 AS DOUBLE))
                             AS HUGEINT) % 4294967296 AS BIGINT))
                 END AS h
          FROM fr)
        SELECT d.doc_id, d.source
        FROM documents d JOIN thr ON d.source = thr.domain
        WHERE md5(CAST(d.doc_id AS VARCHAR) || '#{seed}') < thr.h
        ORDER BY d.doc_id"""


@query(_mixture_resample_oracle(iters=5, lr=0.5, smoothing=0.1,
                                seed=0))
def mixture_resample(spark, sf_dir):
    """domain_weights applied: resample the corpus toward the fitted
    DoReMi-lite mixture — per-domain keep fraction ∝ weight/share,
    peak domain saturates at 1.0, rows kept by the engine-invariant
    md5 coin. The DuckDB twin re-runs the weights CTE chain, derives
    the identical 16-hex thresholds, and replays the flips."""
    from meza_spark.llm.mixing import fit_domain_weights, mixture_sample

    docs = _t(spark, sf_dir, "documents")
    w = fit_domain_weights(docs, "source", "n_chars",
                           iters=5, lr=0.5, smoothing=0.1)
    return (mixture_sample(docs, w, "source", "doc_id", seed=0)
            .select("doc_id", "source"))


@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS HUGEINT) AS vq
      FROM events),
    w AS (
      SELECT event_id, event_type, vq,
             count(vq) OVER win AS n,
             sum(vq) OVER win AS s1,
             sum(vq * vq) OVER win AS s2
      FROM q
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING
                              AND 1 PRECEDING)),
    z AS (
      SELECT event_id, event_type,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
             CAST(CAST(vq AS VARCHAR) AS DOUBLE) AS vd,
             n
      FROM w)
    SELECT event_id, event_type,
           CAST(floor(((vd - s1d / nd)
                / sqrt((nd * s2d - s1d * s1d)
                       / (nd * (nd - 1)))) * 1000000 + 0.5)
                AS BIGINT) AS z_micro
    FROM z
    WHERE n >= 3
      AND (nd * s2d - s1d * s1d) / (nd * (nd - 1)) > 0
    ORDER BY event_id
""")
def zscore_events(spark, sf_dir):
    """Rolling anomaly detection: per-event-type moving z-score of
    `value` against the preceding 24 events. Exact-integer moment
    sums (decimal window accumulators, string-routed double casts)
    make the score hash-gateable — the DuckDB twin replays the same
    frame and the same IEEE shapes."""
    from meza_spark.analytics import moving_zscore

    ev = _t(spark, sf_dir, "events")
    out = moving_zscore(ev, "event_type", "ts", "value",
                        window=24, tiebreak="event_id")
    return (out.where(F.col("z_micro").isNotNull())
            .select("event_id", "event_type", "z_micro")
            )


@query("""
    WITH q AS (
      SELECT user_id, event_type AS et,
             epoch_us(ts) AS tus, epoch_ms(ts) AS tms,
             CAST(epoch_us(ts) AS DOUBLE)
               / CAST(1000000 AS DOUBLE) AS td
      FROM events),
    l AS (
      SELECT *, lag(td) OVER w AS ptd
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, et)),
    s AS (
      SELECT *, sum(CASE WHEN ptd IS NULL
                           OR td - ptd > CAST(1800 AS DOUBLE)
                         THEN 1 ELSE 0 END) OVER w AS sid
      FROM l
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, et)),
    g AS (
      SELECT user_id, sid, count(*) AS n_events,
             string_agg(et, '>' ORDER BY tms, et) AS path
      FROM s GROUP BY user_id, sid)
    SELECT path, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM g GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 25
""")
def top_session_paths(spark, sf_dir):
    """Most common session journeys: the session-path frame grouped by
    its ordered event-type sequence — the clickstream report the
    sessionizer exists to feed. Top-25 by frequency, path tiebreak."""
    from meza_spark.streaming.ops import stream_session_paths

    ev = _t(spark, sf_dir, "events")
    paths = stream_session_paths(ev, "user_id", "ts", "event_type",
                                 gap_seconds=1800)
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").alias("n_events"))
            .orderBy(F.col("n_sessions").desc(), "path")
            .limit(25))


@query("""
    WITH pu AS (
      SELECT user_id,
             epoch_ms(max(ts)) AS last_ms,
             count(*) AS frequency,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE)
                    * 1000000 + 0.5) AS HUGEINT)) AS BIGINT)
               AS monetary_micro
      FROM events GROUP BY user_id),
    sc AS (
      SELECT *,
        ntile(5) OVER (ORDER BY last_ms, user_id) AS r_score,
        ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
        ntile(5) OVER (ORDER BY monetary_micro, user_id)
          AS m_score
      FROM pu)
    SELECT user_id, last_ms, frequency, monetary_micro,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM sc ORDER BY user_id
""")
def rfm_events(spark, sf_dir):
    """RFM customer segmentation over events (analytics.rfm): exact
    decimal monetary accumulation, ntile scores with user-id
    tiebreaks. The DuckDB twin replays the aggregation and the same
    three ntile orderings."""
    from meza_spark.analytics import rfm

    ev = _t(spark, sf_dir, "events")
    return (rfm(ev, "user_id", "ts", "value", n_bins=5)
            )


@query("""
    WITH q AS (
      SELECT user_id, event_type AS et,
             epoch_us(ts) AS tus, epoch_ms(ts) AS tms,
             CAST(epoch_us(ts) AS DOUBLE)
               / CAST(1000000 AS DOUBLE) AS td
      FROM events),
    l AS (
      SELECT *, lag(td) OVER w AS ptd
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, et)),
    s AS (
      SELECT *, sum(CASE WHEN ptd IS NULL
                           OR td - ptd > CAST(1800 AS DOUBLE)
                         THEN 1 ELSE 0 END) OVER w AS sid
      FROM l
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, et))
    SELECT user_id,
           min(tms) AS session_start,
           max(tms) AS session_end,
           count(*) AS n_events,
           string_agg(et, '>' ORDER BY tms, et) AS path
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
""")
def session_paths_events(spark, sf_dir):
    """Per-user gap sessions with ordered event-type paths (the batch
    form of streaming/ops.stream_session_paths — the streaming form is
    pinned stream==batch by unit): sessionize (lag + running sum, one
    window pass) then one ordered collect per session. The DuckDB twin
    replays the µs→double epoch arithmetic, the (ts, type) tie order,
    and the ordered string_agg."""
    from meza_spark.streaming.ops import stream_session_paths

    ev = _t(spark, sf_dir, "events")
    return (stream_session_paths(ev, "user_id", "ts", "event_type",
                                 gap_seconds=1800)
            )


@query
def zscore_events_fast(spark, sf_dir):
    """moving_zscore(exact=False): the production IEEE fast path —
    plain window avg/stddev over doubles, no decimal accumulators or
    string-routed casts. Rows-only gate by declared approximate
    nature (±1 micro vs the hash-gated exact twin, parity-unit
    pinned); exists so the bench quantifies what exactness costs
    (r4 verdict #9)."""
    from meza_spark.analytics import moving_zscore

    ev = _t(spark, sf_dir, "events")
    out = moving_zscore(ev, "event_type", "ts", "value",
                        window=24, tiebreak="event_id", exact=False)
    return (out.where(F.col("z_micro").isNotNull())
            .select("event_id", "event_type", "z_micro")
            )


@query
def cusum_events_fast(spark, sf_dir):
    """cusum(exact=False): IEEE fast path of the changepoint
    statistic. Rows-only by approximate nature (parity-unit
    pinned)."""
    from meza_spark.analytics import cusum

    ev = _t(spark, sf_dir, "events")
    out = cusum(ev, "event_type", "ts", "value",
                slack=10.0, threshold=1000.0, tiebreak="event_id",
                exact=False)
    return (out.select("event_id", "event_type",
                       "cusum_hi_micro", "cusum_lo_micro", "alarm")
            )


@query
def ewma_events_fast(spark, sf_dir):
    """ewma(exact=False): IEEE fast path (float weights, no
    integer-weight ceiling). Rows-only by approximate nature
    (parity-unit pinned)."""
    from meza_spark.analytics import ewma

    ev = _t(spark, sf_dir, "events")
    out = ewma(ev, "event_type", "ts", "value",
               alpha_num=3, alpha_den=10, window=8,
               tiebreak="event_id", exact=False)
    return (out.select("event_id", "event_type", "ewma_micro")
            )


# the *_fast_parity twins replay the EXACT computation and pin
# the fast path through a literal-TRUE contract flag: if the
# IEEE path drifts past 1 micro on any row, the Spark side
# emits false there and the value hash trips (r6 verdict #8)
@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS HUGEINT) AS vq
      FROM events),
    w AS (
      SELECT event_id, event_type, vq,
             count(vq) OVER win AS n,
             sum(vq) OVER win AS s1,
             sum(vq * vq) OVER win AS s2
      FROM q
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING
                              AND 1 PRECEDING)),
    z AS (
      SELECT event_id, event_type,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
             CAST(CAST(vq AS VARCHAR) AS DOUBLE) AS vd,
             n
      FROM w)
    SELECT event_id, event_type,
           CAST(floor(((vd - s1d / nd)
                / sqrt((nd * s2d - s1d * s1d)
                       / (nd * (nd - 1)))) * 1000000 + 0.5)
                AS BIGINT) AS z_micro,
           TRUE AS fast_within_1u
    FROM z
    WHERE n >= 3
      AND (nd * s2d - s1d * s1d) / (nd * (nd - 1)) > 0
    ORDER BY event_id
""")
def zscore_fast_parity(spark, sf_dir):
    """Strict gate for the IEEE fast path (r6 verdict #8): full-outer
    join of the exact and exact=False moving z-scores; transports the
    hash-gated exact micro value plus a ``fast_within_1u`` flag
    (|fast − exact| ≤ 1 micro — the fast path's declared accuracy
    contract). The DuckDB twin replays the exact computation and
    emits literal TRUE: any row where the fast path drifts past 1
    micro (or appears/disappears — the full outer join turns that
    into a rowcount mismatch) trips the value-hash gate. This is the
    strongest cross-engine pin an engine-native-float path admits:
    pinning its exact bits would require re-imposing the decimal
    transport, i.e. the exact twin itself."""
    from meza_spark.analytics import moving_zscore

    # Single-pass form (optimization r9, guide §2.4): the exact and
    # fast paths share the identical window spec (partitionBy
    # event_type, orderBy ts/event_id), so chaining them computes both
    # after ONE series shuffle + sort instead of two separate window
    # pipelines full-outer-joined on event_id (plan: 5 exchanges +
    # SortMergeJoin → 1 exchange, no join). Output is provably
    # identical: events rows are keyed by the unique event_id, so the
    # old join was 1:1, and the null/row-presence semantics of the
    # full-outer form are reproduced by the when() guards below
    # (exact-null rows carried null event_type, both-null rows were
    # absent) — re-proven against the unchanged DuckDB twin.
    ev = _t(spark, sf_dir, "events")
    ex = (moving_zscore(ev, "event_type", "ts", "value",
                        window=24, tiebreak="event_id")
          .withColumnRenamed("z_micro", "_z_exact"))
    both = moving_zscore(ex, "event_type", "ts", "value",
                         window=24, tiebreak="event_id", exact=False)
    e_ok = F.col("_z_exact").isNotNull()
    f_ok = F.col("z_micro").isNotNull()
    return (both.where(e_ok | f_ok)
            .select("event_id",
                    F.when(e_ok, F.col("event_type")).alias("event_type"),
                    F.col("_z_exact").alias("z_micro"),
                    (e_ok & f_ok
                     & (F.abs(F.col("_z_exact") - F.col("z_micro")) <= 1)
                     ).alias("fast_within_1u")))


@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS HUGEINT) AS vq
      FROM events),
    s AS (
      SELECT event_id, event_type, ts, vq,
             count(vq) OVER (PARTITION BY event_type)
               AS n,
             sum(vq) OVER (PARTITION BY event_type) AS T
      FROM q),
    r AS (
      SELECT event_id, event_type, ts, n,
             sum(n * vq - T - n * 10000000) OVER win AS shi,
             sum(T - n * vq - n * 10000000) OVER win AS slo
      FROM s
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)),
    m AS (
      SELECT event_id, event_type, n, shi, slo,
             min(shi) OVER win AS mhi,
             min(slo) OVER win AS mlo
      FROM r
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW))
    SELECT event_id, event_type,
           CAST((shi - least(CAST(0 AS HUGEINT), mhi)) // n
                AS BIGINT) AS cusum_hi_micro,
           CAST((slo - least(CAST(0 AS HUGEINT), mlo)) // n
                AS BIGINT) AS cusum_lo_micro,
           TRUE AS fast_within_1u
    FROM m
    ORDER BY event_id
""")
def cusum_fast_parity(spark, sf_dir):
    """Strict gate for cusum(exact=False): exact hi/lo micro values +
    within-1-micro flags for the fast path (see zscore_fast_parity
    for the contract rationale). The alarm flag is excluded from the
    parity claim: a ±1-micro statistic difference legitimately flips
    it exactly at the threshold."""
    from meza_spark.analytics import cusum

    # Single-pass form (optimization r9, guide §2.4): exact and fast
    # paths share the event_type partitioning, so chaining computes
    # both after one shuffle — the old event_id full-outer join was
    # 1:1 (event_id unique, neither side filtered), so row set and
    # null semantics are unchanged; see zscore_fast_parity.
    ev = _t(spark, sf_dir, "events")
    ex = (cusum(ev, "event_type", "ts", "value", slack=10.0,
                threshold=1000.0, tiebreak="event_id")
          .withColumnRenamed("cusum_hi_micro", "_hi_exact")
          .withColumnRenamed("cusum_lo_micro", "_lo_exact")
          .drop("alarm"))
    both = cusum(ex, "event_type", "ts", "value", slack=10.0,
                 threshold=1000.0, tiebreak="event_id", exact=False)
    return both.select(
        "event_id", "event_type",
        F.col("_hi_exact").alias("cusum_hi_micro"),
        F.col("_lo_exact").alias("cusum_lo_micro"),
        (F.col("cusum_hi_micro").isNotNull()
         & (F.abs(F.col("_hi_exact") - F.col("cusum_hi_micro")) <= 1)
         & (F.abs(F.col("_lo_exact") - F.col("cusum_lo_micro")) <= 1)
         ).alias("fast_within_1u"))


@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS vq,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    w(age, wt) AS (VALUES
      (0, CAST(10000000 AS HUGEINT)),
      (1, CAST(7000000 AS HUGEINT)),
      (2, CAST(4900000 AS HUGEINT)),
      (3, CAST(3430000 AS HUGEINT)),
      (4, CAST(2401000 AS HUGEINT)),
      (5, CAST(1680700 AS HUGEINT)),
      (6, CAST(1176490 AS HUGEINT)),
      (7, CAST(823543 AS HUGEINT))),
    j AS (
      SELECT a.event_id, a.event_type,
             sum(CAST(b.vq AS HUGEINT) * w.wt) AS num,
             sum(w.wt) AS den
      FROM q a
      JOIN q b ON b.event_type = a.event_type
              AND b.rn BETWEEN a.rn - 7 AND a.rn
      JOIN w ON w.age = a.rn - b.rn
      GROUP BY a.event_id, a.event_type)
    SELECT event_id, event_type,
           CAST(num // den AS BIGINT) AS ewma_micro,
           TRUE AS fast_within_1u
    FROM j
    ORDER BY event_id
""")
def ewma_fast_parity(spark, sf_dir):
    """Strict gate for ewma(exact=False): exact micro value + the
    fast path's within-1-micro flag (see zscore_fast_parity)."""
    from meza_spark.analytics import ewma

    # Single-pass form (optimization r9, guide §2.4): same rationale
    # as zscore_fast_parity/cusum_fast_parity — one shared window
    # shuffle instead of two pipelines full-outer-joined on event_id.
    ev = _t(spark, sf_dir, "events")
    ex = (ewma(ev, "event_type", "ts", "value", alpha_num=3,
               alpha_den=10, window=8, tiebreak="event_id")
          .withColumnRenamed("ewma_micro", "_e_exact"))
    both = ewma(ex, "event_type", "ts", "value", alpha_num=3,
                alpha_den=10, window=8, tiebreak="event_id",
                exact=False)
    return both.select(
        "event_id", "event_type",
        F.col("_e_exact").alias("ewma_micro"),
        (F.col("ewma_micro").isNotNull()
         & (F.abs(F.col("_e_exact") - F.col("ewma_micro")) <= 1)
         ).alias("fast_within_1u"))


@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS HUGEINT) AS vq
      FROM events),
    s AS (
      SELECT event_id, event_type, ts, vq,
             count(vq) OVER (PARTITION BY event_type)
               AS n,
             sum(vq) OVER (PARTITION BY event_type) AS T
      FROM q),
    r AS (
      SELECT event_id, event_type, ts, n,
             sum(n * vq - T - n * 10000000) OVER win AS shi,
             sum(T - n * vq - n * 10000000) OVER win AS slo
      FROM s
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)),
    m AS (
      SELECT event_id, event_type, n, shi, slo,
             min(shi) OVER win AS mhi,
             min(slo) OVER win AS mlo
      FROM r
      WINDOW win AS (PARTITION BY event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)),
    c AS (
      SELECT event_id, event_type,
             CAST((shi - least(CAST(0 AS HUGEINT), mhi)) // n
                  AS BIGINT) AS cusum_hi_micro,
             CAST((slo - least(CAST(0 AS HUGEINT), mlo)) // n
                  AS BIGINT) AS cusum_lo_micro
      FROM m)
    SELECT event_id, event_type, cusum_hi_micro,
           cusum_lo_micro,
           (cusum_hi_micro >= 1000000000
            OR cusum_lo_micro >= 1000000000) AS alarm
    FROM c
    ORDER BY event_id
""")
def cusum_events(spark, sf_dir):
    """Per-event-type CUSUM changepoint statistic (analytics.cusum):
    running sum minus running min of exact cross-multiplied micro
    deviations — the max(0, C+y) recursion as two window expressions
    over one sort. All-integer state at scale n makes the statistic
    hash-gateable; the DuckDB twin replays the identical windows and
    the identical `div n` floor."""
    from meza_spark.analytics import cusum

    ev = _t(spark, sf_dir, "events")
    out = cusum(ev, "event_type", "ts", "value",
                slack=10.0, threshold=1000.0, tiebreak="event_id")
    return (out.select("event_id", "event_type",
                       "cusum_hi_micro", "cusum_lo_micro", "alarm")
            )


@query("""
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS vq,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    w(age, wt) AS (VALUES
      (0, CAST(10000000 AS HUGEINT)),
      (1, CAST(7000000 AS HUGEINT)),
      (2, CAST(4900000 AS HUGEINT)),
      (3, CAST(3430000 AS HUGEINT)),
      (4, CAST(2401000 AS HUGEINT)),
      (5, CAST(1680700 AS HUGEINT)),
      (6, CAST(1176490 AS HUGEINT)),
      (7, CAST(823543 AS HUGEINT))),
    j AS (
      SELECT a.event_id, a.event_type,
             sum(CAST(b.vq AS HUGEINT) * w.wt) AS num,
             sum(w.wt) AS den
      FROM q a
      JOIN q b ON b.event_type = a.event_type
              AND b.rn BETWEEN a.rn - 7 AND a.rn
      JOIN w ON w.age = a.rn - b.rn
      GROUP BY a.event_id, a.event_type)
    SELECT event_id, event_type,
           CAST(num // den AS BIGINT) AS ewma_micro
    FROM j
    ORDER BY event_id
""")
def ewma_events(spark, sf_dir):
    """Per-event-type EWMA (α=3/10, 8-row trailing window): integer
    weights (7^j·10^(7-j)) make numerator/denominator exact decimal
    sums; the DuckDB twin rebuilds the same weighted sum with a
    row_number band self-join against a literal weights table and
    floors the same integral division."""
    from meza_spark.analytics import ewma

    ev = _t(spark, sf_dir, "events")
    out = ewma(ev, "event_type", "ts", "value",
               alpha_num=3, alpha_den=10, window=8,
               tiebreak="event_id")
    return (out.select("event_id", "event_type", "ewma_micro")
            )


@query("""
    WITH conv AS (
      SELECT DISTINCT user_id AS u, ts AS cts
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id AS u, ts, event_id,
             event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')),
    j AS (
      SELECT conv.u, conv.cts, t.ts, t.event_id, t.channel
      FROM conv JOIN t ON t.u = conv.u
      WHERE t.ts < conv.cts
        AND t.ts >= conv.cts - INTERVAL 172800 SECOND),
    r AS (
      SELECT u, cts, channel,
             count(*) OVER (PARTITION BY u, cts) AS n,
             row_number() OVER (PARTITION BY u, cts
                                ORDER BY ts, event_id) AS rf
      FROM j),
    c AS (
      SELECT channel, u, cts,
             (1000000 // n)
             + CASE WHEN rf = 1
                    THEN 1000000 - (1000000 // n) * n
                    ELSE 0 END AS credit
      FROM r)
    SELECT channel,
           CAST(sum(credit) AS BIGINT) AS credit_micro,
           count(DISTINCT (u, cts)) AS n_conversions
    FROM c WHERE credit > 0
    GROUP BY channel
    ORDER BY channel
""")
def attribution_events(spark, sf_dir):
    """Linear multi-touch attribution: each purchase distributes
    exactly 1,000,000 micro-credits across the user's view/click
    touches in the preceding 2 days (each touch gets 1000000 div n,
    remainder to the earliest — integer-exact, so channel totals
    reconcile). The DuckDB twin replays the join, the windows, and
    the same floor division."""
    from meza_spark.analytics import attribution

    ev = _t(spark, sf_dir, "events")
    return (attribution(ev, "purchase", ["view", "click"],
                        model="linear", lookback_seconds=172800,
                        tiebreak="event_id")
            )


@query("""
    WITH base AS (
      SELECT DISTINCT l_orderkey AS g, l_partkey % 100 AS i
      FROM lineitem)
    SELECT a.i AS item_a, b.i AS item_b,
           count(*) AS n_groups
    FROM base a JOIN base b
      ON a.g = b.g AND a.i < b.i
    GROUP BY a.i, b.i
    HAVING count(*) >= 3
    ORDER BY item_a, item_b
""")
def co_occur_parts(spark, sf_dir):
    """Market-basket co-occurrence over lineitem: part-bucket pairs
    appearing in the same order (distinct-first, group-keyed self-
    join, size-capped baskets), support ≥ 3."""
    from meza_spark.process import co_occurrence

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("pb"))
    return (co_occurrence(li, "l_orderkey", "pb", min_support=3)
            )


@query("""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'view' AND e.ts > t1.t
        AND e.ts <= t1.t + INTERVAL 86400 SECOND
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'click' AND e.ts > t2.t
        AND e.ts <= t2.t + INTERVAL 86400 SECOND
      GROUP BY e.user_id),
    t4 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t3 ON e.user_id = t3.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t3.t
        AND e.ts <= t3.t + INTERVAL 86400 SECOND
      GROUP BY e.user_id)
    SELECT 1 AS step_idx, 'signup' AS step,
           (SELECT count(*) FROM t1) AS users
    UNION ALL SELECT 2, 'view', (SELECT count(*) FROM t2)
    UNION ALL SELECT 3, 'click', (SELECT count(*) FROM t3)
    UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM t4)
    ORDER BY step_idx
""")
def funnel_events(spark, sf_dir):
    """Ordered-sequence funnel over events (signup → view → click →
    purchase, each within 1 day of the previous step): min-qualifying-
    timestamp semantics, one filtered agg + user-key join per step.
    The DuckDB twin chains the identical per-step CTE aggs."""
    from meza_spark.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["signup", "view", "click", "purchase"],
                  within_seconds=86400)


@query("""
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS p
      FROM events)
    SELECT CAST(CAST(f.cohort AS DATE) AS VARCHAR) AS cohort,
           CAST(datediff('day', f.cohort, a.p) // 7 AS INT)
             AS period_n,
           count(DISTINCT a.user_id) AS users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort, period_n
""")
def cohort_weekly(spark, sf_dir):
    """Weekly cohort retention matrix over events: cohort = ISO week
    of first activity, period_n = whole weeks since, distinct users
    per cell. Two narrow-key aggregations; day-difference floor-
    divided so period arithmetic is integer-exact in any engine."""
    from meza_spark.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    # cohort emitted as yyyy-MM-dd string: DuckDB DATE surfaces as a
    # midnight timestamp through pandas, which the canonicalizer would
    # hash differently from a true date cell
    return (cohort_retention(ev, period="week")
            .select(F.col("cohort").cast("string").alias("cohort"),
                    "period_n", "users")
            )


@query("""
    WITH RECURSIVE base AS (
      SELECT doc_id AS id,
             substr(text, 1, 20) AS name, lang
      FROM documents WHERE doc_id < 200),
    allr AS (
      SELECT * FROM base
      UNION ALL
      SELECT id + 500000,
             substr(name, 1, 5) || '#' || substr(name, 7),
             lang
      FROM base WHERE id < 60),
    prs AS (
      SELECT a.id AS ia, b.id AS ib
      FROM allr a JOIN allr b ON a.id < b.id
      WHERE levenshtein(a.name, b.name) <= 1),
    edges AS (
      SELECT ia AS s, ib AS d FROM prs
      UNION SELECT ib, ia FROM prs),
    reach(v, l) AS (
      SELECT id, id FROM allr
      UNION
      SELECT e.d, r.l FROM edges e JOIN reach r ON e.s = r.v),
    labels AS (SELECT v, min(l) AS entity_id
               FROM reach GROUP BY v),
    members AS (
      SELECT lb.entity_id, a.*
      FROM allr a JOIN labels lb ON a.id = lb.v),
    sizes AS (SELECT entity_id, COUNT(*) AS n_members
              FROM members GROUP BY entity_id),
    vname AS (
      SELECT entity_id, name FROM (
        SELECT entity_id, name,
               row_number() OVER (
                 PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, name ASC) AS rn
        FROM members WHERE name IS NOT NULL
        GROUP BY entity_id, name) WHERE rn = 1),
    vseg AS (
      SELECT entity_id, lang FROM (
        SELECT entity_id, lang,
               row_number() OVER (
                 PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, lang ASC) AS rn
        FROM members WHERE lang IS NOT NULL
        GROUP BY entity_id, lang) WHERE rn = 1)
    SELECT s.entity_id, vname.name, vseg.lang,
           s.n_members
    FROM sizes s
    LEFT JOIN vname ON s.entity_id = vname.entity_id
    LEFT JOIN vseg ON s.entity_id = vseg.entity_id
    ORDER BY s.entity_id
""")
def entity_resolution(spark, sf_dir):
    """MDM-style entity resolution: document records keyed by a
    20-char text prefix, plus planted 1-edit typo copies
    (key+500000, char 6 replaced). Levenshtein pairs → connected
    components → one golden record per entity (per-column vote: most
    frequent non-null, ties → smallest value). The DuckDB twin replays
    pairs, recursive-CTE reachability, and the vote verbatim."""
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("doc_id") < 200)
         .select(F.col("doc_id").alias("id"),
                 F.substring("text", 1, 20).alias("name"), "lang"))
    copies = (d.where(F.col("id") < 60)
              .select((F.col("id") + 500000).alias("id"),
                      F.concat(F.substring("name", 1, 5), F.lit("#"),
                               F.expr("substring(name, 7)"))
                      .alias("name"), "lang"))
    both = d.unionByName(copies)
    out = pr.resolve_entities(both, "id", "name", max_distance=1)
    return (out.select("entity_id", "name", "lang", "n_members")
            )


@query("""
    WITH pts AS (
      SELECT event_id, value % 20 AS x,
             (user_id % 200) / 10.0 AS y
      FROM events WHERE event_id < 2000),
    a AS (SELECT event_id AS id, x, y FROM pts
          WHERE event_id % 2 = 0),
    b AS (SELECT event_id AS id, x, y FROM pts
          WHERE event_id % 2 = 1)
    SELECT a.id AS id_l, b.id AS id_r,
           CAST(floor(((a.x - b.x) * (a.x - b.x)
                       + (a.y - b.y) * (a.y - b.y))
                      * 1000000000 + 0.5) AS BIGINT)
             AS dist_sq_nano
    FROM a, b
    WHERE (a.x - b.x) * (a.x - b.x)
          + (a.y - b.y) * (a.y - b.y) <= 0.25
    ORDER BY id_l, id_r
""")
def spatial_radius_join(spark, sf_dir):
    """Grid-blocked planar radius join: event-derived point clouds
    (x = value mod 20, y = (user_id mod 200)/10 — exact IEEE fmod/div
    in both engines), even vs odd event ids, radius 0.5. The 3×3
    neighbor-cell equi-join bounds candidates (never O(n·m)); squared
    distance uses plain multiplies so the DuckDB twin replays the
    comparison bit-for-bit. Output in nano-units."""
    from meza_spark.spatial import grid_radius_join

    ev = (_t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
          .select("event_id", (F.col("value") % 20).alias("x"),
                  ((F.col("user_id") % 200) / 10.0).alias("y")))
    a = ev.where(F.col("event_id") % 2 == 0) \
        .select(F.col("event_id").alias("id"), "x", "y")
    b = ev.where(F.col("event_id") % 2 == 1) \
        .select(F.col("event_id").alias("id"), "x", "y")
    pairs = grid_radius_join(a, b, 0.5)
    return (pairs.select(F.col("id_l"), F.col("id_r"),
                         F.floor(F.col("dist_sq") * 1e9 + F.lit(0.5))
                         .cast("long").alias("dist_sq_nano"))
            )


@query("""
    WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
                      o_orderstatus FROM orders),
    old AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
    new AS (SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 3 = 0
                        THEN o_totalprice + 1
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM o WHERE o_orderkey % 5 <> 0)
    SELECT COALESCE(n.o_orderkey, d.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey
                ELSE d.o_custkey END AS o_custkey,
           round(CASE WHEN n.o_orderkey IS NOT NULL
                      THEN n.o_totalprice
                      ELSE d.o_totalprice END, 2) AS o_totalprice,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                ELSE d.o_orderstatus END AS o_orderstatus,
           CASE WHEN d.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN (n.o_custkey IS NOT DISTINCT FROM d.o_custkey)
                 AND (n.o_totalprice IS NOT DISTINCT FROM
                      d.o_totalprice)
                 AND (n.o_orderstatus IS NOT DISTINCT FROM
                      d.o_orderstatus)
                THEN 'unchanged' ELSE 'changed' END AS change
    FROM old d FULL OUTER JOIN new n
         ON d.o_orderkey = n.o_orderkey
    ORDER BY o_orderkey
""")
def snapshot_diff_orders(spark, sf_dir):
    """Change-data-capture diff of two deterministic order snapshots:
    old = keys %7≠0, new = keys %5≠0 with totalprice bumped on %3=0 —
    yielding all four change classes. One full-outer join, null-safe
    compare; the DuckDB twin replays it verbatim."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    old = o.where(F.col("o_orderkey") % 7 != 0)
    new = (o.where(F.col("o_orderkey") % 5 != 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 3 == 0,
                              F.col("o_totalprice") + 1)
                       .otherwise(F.col("o_totalprice"))))
    out = pr.snapshot_diff(old, new, on="o_orderkey")
    return out.select("o_orderkey", "o_custkey",
                      F.round("o_totalprice", 2).alias("o_totalprice"),
                      "o_orderstatus", "change")


@query("""
    SELECT event_type,
           CAST(floor(quantile_cont(value, 0.49) * 1000000
                      + 0.5) AS BIGINT) AS p49_micro,
           CAST(floor(quantile_cont(value, 0.96) * 1000000
                      + 0.5) AS BIGINT) AS p96_micro,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
""")
def pct_approx_value(spark, sf_dir):
    """Mergeable approximate quantiles (the 100 TB percentile path:
    percentile_approx's Greenwald-Khanna sketch combines across
    partitions — no global sort). Hash-gated via the sketch family's
    tolerance contract (exact per-type percentiles + a pinned-true
    within-bound flag at 1% rank error on the value range)."""
    ev = _t(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("ap"))
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.49, 0.51))").alias("p50r"),
        F.expr("percentile(value, array(0.94, 0.96))").alias("p95r"))
    j = approx.join(exact, on="event_type")
    ok50 = ((F.col("ap")[0] >= F.col("p50r")[0] - 1e-9)
            & (F.col("ap")[0] <= F.col("p50r")[1] + 1e-9))
    ok95 = ((F.col("ap")[1] >= F.col("p95r")[0] - 1e-9)
            & (F.col("ap")[1] <= F.col("p95r")[1] + 1e-9))
    return (j.select("event_type",
                     F.floor(F.col("p50r")[0] * 1e6 + F.lit(0.5))
                     .cast("long").alias("p49_micro"),
                     F.floor(F.col("p95r")[1] * 1e6 + F.lit(0.5))
                     .cast("long").alias("p96_micro"),
                     (ok50 & ok95).alias("within_bound"))
            )


@query
def llm_bpe_tokens(spark, sf_dir):
    """REAL learned-subword token counts: train 100 BPE merges on the
    corpus word-frequency table (exact counts, deterministic tie-break
    — driver loop over the Zipf-compact table), then Arrow-batched
    encode. The budget unit pack_shards/budget_sample would use in a
    real pipeline. VALUES-pinned (the merge loop is not
    SQL-expressible)."""
    from meza_spark.llm.bpe import bpe_token_count, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=100)
    return (bpe_token_count(docs, merges)
            .select("doc_id", "n_bpe_tokens"))


# Shared CTE body for the DSIR twins: per-doc importance weight in
# int64 micro-log-units (see meza_spark/llm/dsir.py — same tokenizer,
# same md5 bucketing, same Laplace smoothing, same pre-sum
# quantization). No trailing ORDER BY so wrappers can re-sort/limit.
# ``src`` parameterizes the corpus relation so curation_e2e can run
# the same model fit over its filtered survivor CTE.
def _dsir_weights_sql(src: str = "documents") -> str:
    return _DSIR_WEIGHTS_SQL.replace("FROM documents)", f"FROM {src})", 1)


_DSIR_WEIGHTS_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(list_concat(
     t,
     CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])
          ELSE []::VARCHAR[] END)) AS g
  FROM toks),
b AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(g),1,8)) AS BIGINT) % 1024
               AS bucket
      FROM grams),
tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en'
       GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tc) AS tt,
               (SELECT coalesce(sum(cr), 0) FROM rc) AS tr),
ratio AS (
  SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
         CAST(floor(ln( (CAST(coalesce(ct,0)+1 AS DOUBLE)/(tt+1024))
                      / (CAST(coalesce(cr,0)+1 AS DOUBLE)/(tr+1024)) )
                    * 1e6 + 0.5) AS BIGINT) AS ratio_micro
  FROM tc FULL JOIN rc ON tc.bucket = rc.bucket, tot),
docb AS (SELECT doc_id, bucket, count(*) AS cnt
         FROM b GROUP BY doc_id, bucket)
SELECT d.doc_id,
       CAST(sum(cnt * coalesce(ratio_micro, 0)) AS BIGINT) AS dsir_w
FROM docb d LEFT JOIN ratio USING (bucket)
GROUP BY d.doc_id
"""


# DSIR importance weights: md5 buckets + Laplace-smoothed
# hashed-ngram models; the single ln per bucket is quantized
# to the 1e-6 grid BEFORE the int64 per-doc sums, so the twin
# is exact at every SF (verified 0.001/0.01/0.1).
@query(_DSIR_WEIGHTS_SQL + " ORDER BY d.doc_id")
def dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    bucket models (B=1024) for the English-target vs whole-raw corpus;
    per-doc weight = Σ cnt_b · floor(ln(p_b/q_b)·1e6+0.5) in exact
    int64 micro-log-units. md5-derived buckets and pre-summation
    quantization make the DuckDB twin replay it bit-for-bit at every
    SF (no pin needed despite the fitted model)."""
    from meza_spark.llm import dsir

    docs = _t(spark, sf_dir, "documents")
    ratios = dsir.fit_log_ratios(
        None, docs, target_pred=F.col("lang") == "en")
    return dsir.dsir_weights(docs, ratios)


@query(f"""
    WITH w AS ({_DSIR_WEIGHTS_SQL})
    SELECT doc_id, dsir_w,
           dsir_w + CAST(floor(
             -ln(-ln((CAST(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || '#7'), 1, 13))
                 AS BIGINT) + 0.5) / 4503599627370496.0))
             * 1e6 + 0.5) AS BIGINT) AS key_micro
    FROM w ORDER BY key_micro DESC, doc_id LIMIT 50
""")
def dsir_sample(spark, sf_dir):
    """DSIR Gumbel top-k resample: 50 docs with max(weight + Gumbel
    noise), noise from the md5-threshold uniform (engine-invariant),
    both terms on the same 1e-6 integer grid — deterministic
    importance sampling without replacement."""
    from meza_spark.llm import dsir

    docs = _t(spark, sf_dir, "documents")
    return dsir.dsir_sample(docs, None, k=50, seed=7,
                            target_pred=F.col("lang") == "en")


@query
def llm_lr_score(spark, sf_dir):
    """Learned quality filter: logistic regression distilling the
    rule-based quality heuristic (label = all rules pass AND
    mean_word_len ≥ 4.5) from its continuous features. Bounded
    hash-ordered driver fit (k-means contract), then scoring is a
    literal-weights codegen expression — integer micro-logits.
    VALUES-pinned (iterative GD fit is not SQL-expressible)."""
    from meza_spark.llm.classifier import (fit_logistic,
                                           quality_features,
                                           score_logistic)

    docs = _t(spark, sf_dir, "documents")
    f = quality_features(docs).withColumn(
        "label", ((F.col("quality") >= 1.0)
                  & (F.col("mean_word_len") >= 4.5)).cast("double"))
    w = fit_logistic(f, "label")
    return (score_logistic(f, w)
            .select("doc_id", "logit_micro", "pred"))


# FLAGSHIP composition twin: quality gate → exact dedup →
# decontam (remove) → DSIR top-200 → shard packing, each CTE
# copied verbatim from the per-operator oracles above so any
# composition drift is isolated to the seams.
@query(r"""
    WITH tq AS (
      SELECT doc_id, text, lang, n_chars,
             length(text) AS nc,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tok,
             length(text) - length(regexp_replace(text,
               '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               AS n_alpha,
             len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x IN ('the','and','of','to','is'))) AS n_stop
      FROM documents WHERE doc_id % 50 <> 0),
    qr AS (
      SELECT doc_id, text, lang, n_chars,
             (CASE WHEN nc >= 64 AND nc <= 100000
                   THEN 0.4 ELSE 0.0 END
              + CASE WHEN (CASE WHEN nc > 0
                    THEN CAST(n_punct AS DOUBLE)/nc
                    ELSE 0.0 END) < 0.2 THEN 0.2 ELSE 0.0 END
              + CASE WHEN (CASE WHEN n_tok > 0
                    THEN CAST(n_stop AS DOUBLE)/n_tok
                    ELSE 0.0 END) > 0.01 THEN 0.2 ELSE 0.0 END
              + CASE WHEN (CASE WHEN n_tok > 0
                    THEN CAST(n_alpha AS DOUBLE)/n_tok
                    ELSE 0.0 END) BETWEEN 2.0 AND 12.0
                    THEN 0.2 ELSE 0.0 END) AS quality
      FROM tq),
    keepq AS (SELECT doc_id, text, lang, n_chars FROM qr
              WHERE quality >= 0.8),
    ded AS (
      SELECT doc_id, text, lang, n_chars FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
           ORDER BY doc_id) rn FROM keepq) WHERE rn = 1),
    toksb AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE doc_id % 50 = 0),
    gb AS (
      SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
      FROM toksb,
           LATERAL (SELECT UNNEST(range(1, len(t) - 8 + 2)) AS i) u
      WHERE len(t) >= 8
      UNION
      SELECT DISTINCT array_to_string(t, ' ') FROM toksb
      WHERE len(t) < 8),
    dtoks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM ded),
    hits AS (
      SELECT DISTINCT doc_id
      FROM dtoks,
           LATERAL (SELECT UNNEST(range(1, len(t) - 8 + 2)) AS i) u
      WHERE len(t) >= 8
        AND array_to_string(t[i:i+7], ' ') IN (SELECT g FROM gb)
      UNION
      SELECT doc_id FROM dtoks
      WHERE len(t) < 8
        AND array_to_string(t, ' ') IN (SELECT g FROM gb)),
    clean AS (SELECT * FROM ded
              WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
    w AS (""" + _dsir_weights_sql("clean") + r"""),
    topk AS (SELECT doc_id, dsir_w FROM w
             ORDER BY dsir_w DESC, doc_id LIMIT 200),
    packed AS (
      SELECT k.doc_id, k.dsir_w, c.n_chars,
             CAST(FLOOR(COALESCE(SUM(c.n_chars) OVER (
               ORDER BY k.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) / 20000.0) AS BIGINT)
               AS shard_id
      FROM topk k JOIN clean c ON k.doc_id = c.doc_id)
    SELECT doc_id, dsir_w, n_chars, shard_id FROM packed
    ORDER BY doc_id
""")
def curation_e2e(spark, sf_dir):
    """FLAGSHIP pipeline: the raw-pool → training-shards chain a 100 TB
    curation run actually executes, end-to-end in one gated query —
    quality gate (row-local, pushes down) → exact dedup (digest
    shuffle) → benchmark decontamination (broadcast gram probe, remove
    mode) → DSIR selection (top-200 most target-like survivors) →
    token-budget shard packing (two-pass cumsum). Every stage is an
    existing individually-gated operator; this verifies their
    COMPOSITION against one DuckDB CTE chain."""
    from meza_spark.llm import dsir
    from meza_spark.llm.decontam import decontaminate
    from meza_spark.llm.dedup import exact_dedup
    from meza_spark.llm.sampling import pack_shards

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    q = (tx.quality_score(train).where(F.col("quality") >= 0.8)
         .select("doc_id", "text", "lang", "n_chars"))
    ded = exact_dedup(q)
    clean = decontaminate(ded, bench, n=8, mode="remove")
    # Materialize the cleaned pool ONCE: downstream it is consumed by
    # four executions (DSIR fit scan, weights lineage, the pack join
    # probe, and pack_shards' two-pass cumsum) — without a barrier the
    # quality→dedup→decontam subtree re-runs under each (measured
    # 7.0 → 5.5 s warm at sf0.1; at cluster scale this is the
    # re-read-the-corpus-4× tax)
    from meza_spark.util import barrier
    clean, _ = barrier(clean)
    ratios = dsir.fit_log_ratios(
        None, clean, target_pred=F.col("lang") == "en")
    w = dsir.dsir_weights(clean, ratios)
    topk = w.orderBy(F.desc("dsir_w"), "doc_id").limit(200)
    packed = pack_shards(
        topk.join(clean.select("doc_id", "n_chars"), on="doc_id"),
        "n_chars", budget=20_000, order_by="doc_id")
    return (packed.select("doc_id", "dsir_w", "n_chars", "shard_id")
            )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing(spark, SF001)
