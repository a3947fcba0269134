"""Relational / dataflow operators (reference: meza/process.py).

Every operator takes and returns a ``pyspark.sql.DataFrame`` so that the
whole pipeline stays a single Catalyst logical plan — projection pruning,
predicate pushdown, join reordering and whole-stage codegen apply across
operator boundaries exactly as they do for hand-written DataFrame code.

Reference parity map (meza/process.py line cites in each docstring):
    cut, tfilter, grep, unique, hash_, sort, peek, fillempty, aggregate,
    merge, group, pivot, normalize, split, join, prepend, json_recode,
    type_cast, detect_types (in typetools).

Scale notes: none of these functions collect to the driver except
``peek`` (bounded by ``n``). Aggregations rely on Spark's partial
(map-side) aggregation; joins go through Catalyst's strategy choice
(broadcast for small sides via AQE or explicit ``broadcast=True``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import lineage_cut, range_offsets

__all__ = [
    "cut", "tfilter", "grep", "unique", "hash_", "sort", "peek",
    "fillempty", "aggregate", "merge", "group", "pivot", "normalize",
    "split", "join", "prepend", "json_recode", "everseen", "topk_per_group",
    "asof_join", "flatten", "slice_rows", "salted_join", "salted_agg",
    "sessionize", "scd2_intervals", "normalized_join", "fuzzy_join",
    "merge_into", "snapshot_diff", "resolve_entities", "resample",
    "normalize_json", "co_occurrence",
]


# ---------------------------------------------------------------------------
# projection / filtering / row ops
# ---------------------------------------------------------------------------

def cut(df: DataFrame, fields: Sequence[str], exclude: bool = False,
        prune: bool = False) -> DataFrame:
    """Select or drop columns (ref: meza/process.py:901-934).

    ``exclude=True`` drops ``fields`` instead of keeping them;
    ``prune=True`` additionally removes rows where every remaining
    column is null (meza drops now-empty rows).

    Spark-first: pure ``select``/``drop`` — column pruning reaches the
    parquet scan, so at 100 TB only the kept columns are read.
    """
    out = df.drop(*fields) if exclude else df.select(*fields)
    if prune:
        out = out.na.drop(how="all")
    return out


def _value_pred_column(fn: Callable, col: Column) -> Column:
    """Apply a callable predicate to a column, with meza's value-level
    escape hatch (ref: meza/process.py:823-826 — meza predicates take
    the raw VALUE).

    If ``fn(col)`` yields a Column, it was a Column→Column expression
    (the fast, JVM-side path — note plain comparisons like
    ``lambda v: v > 10`` already are). Otherwise the callable is a
    value-level Python predicate and gets wrapped in a row-at-a-time
    UDF — the SLOW path (no codegen, per-row Python round-trips):
    parity convenience, not something to put in a 100 TB hot loop.
    """
    try:
        res = fn(col)
        if isinstance(res, Column):
            return res
    except Exception:
        pass
    return F.udf(lambda v: bool(fn(v)), "boolean")(col)


def tfilter(df: DataFrame, field: str,
            pred: Column | Callable | None = None,
            inverse: bool = False) -> DataFrame:
    """Filter rows by a predicate on one field (ref: meza/process.py:813-848).

    ``pred`` may be a Column expression, a callable Column->Column
    (JVM-side, preferred), a value-level Python callable (auto-wrapped
    in a UDF — slow path, see ``_value_pred_column``), or ``None``
    (meza's default: truthiness — non-null, non-empty, non-zero,
    non-false).
    """
    c = F.col(field)
    if pred is None:
        cond = c.isNotNull() & (~c.cast("string").isin("", "0", "0.0", "false", "False"))
    elif callable(pred) and not isinstance(pred, Column):
        cond = _value_pred_column(pred, c)
    else:
        cond = pred
    # meza's inverse is Python `not pred(x)` — null-safe, unlike SQL NOT
    # (which drops NULL predicate results on both sides)
    return df.filter(~F.coalesce(cond, F.lit(False)) if inverse else cond)


def grep(df: DataFrame, rules: Sequence[dict[str, Any]],
         any_match: bool = False, inverse: bool = False) -> DataFrame:
    """Multi-rule pattern match over chosen fields
    (ref: meza/process.py:974-1035).

    Each rule is ``{'fields': [...], 'pattern': p}`` where ``p`` is:
      - a regex string starting with its own semantics → ``rlike``
        (meza compiles regexes and uses ``.match`` = anchored at start;
        we preserve that by anchoring with ``^``),
      - a plain substring → ``contains``,
      - a callable Column->Column → applied per field.
    A rule matches if ANY of its fields match. Rules combine with AND
    (``any_match=False``, meza default ``all``) or OR (``any_match=True``).
    ``inverse`` negates the total.

    Spark-first: compiles to a single boolean expression tree —
    ``rlike``/``contains`` stay JVM-side inside WholeStageCodegen.
    """
    import re

    if not rules:
        raise ValueError("grep requires at least one rule "
                         "({'fields': [...], 'pattern': ...})")
    rule_exprs = []
    for rule in rules:
        fields = rule["fields"]
        pattern = rule["pattern"]
        field_exprs = []
        for f in fields:
            c = F.col(f).cast("string")
            if callable(pattern) and not isinstance(pattern, Column):
                # Column-fn fast path, value-level python pred fallback
                field_exprs.append(_value_pred_column(pattern, F.col(f)))
            elif isinstance(pattern, re.Pattern):
                # meza uses pattern.match → anchored at the start
                field_exprs.append(c.rlike("^(?:" + pattern.pattern + ")"))
            elif isinstance(pattern, str) and rule.get("regex"):
                field_exprs.append(c.rlike("^(?:" + pattern + ")"))
            else:
                field_exprs.append(c.contains(str(pattern)))
        expr = field_exprs[0]
        for e in field_exprs[1:]:
            expr = expr | e
        rule_exprs.append(expr)

    total = rule_exprs[0]
    for e in rule_exprs[1:]:
        total = (total | e) if any_match else (total & e)
    return df.filter(~F.coalesce(total, F.lit(False)) if inverse else total)


def unique(df: DataFrame, fields: Sequence[str] | None = None,
           keep: str = "any",
           pred: Column | Callable[[DataFrame], Column] | None = None,
           bufsize: int | None = None,
           order_by: str | Sequence[str] | None = None) -> DataFrame:
    """Deduplicate on a column subset or derived key
    (ref: meza/process.py:851-898).

    meza's dedupe is windowed/approximate (a ``bufsize``-deep
    seen-deque, default 4096) purely to bound memory in a
    single-threaded generator; on Spark exact distributed dedupe is
    the right default — a hash shuffle on the key columns with
    map-side partial dedupe, linear scale-out.

    ``keep='any'`` → ``dropDuplicates`` (fastest, hash-agg based).
    ``keep='first'``/``'min'`` → deterministic: keeps the row with the
    smallest value of the remaining columns (needed for oracle-stable
    results); implemented as a min-struct aggregation, no window needed.

    ``pred`` is meza's keyfunc (process.py:861-862): a Column
    expression (or a callable ``df → Column``) whose VALUE is the
    dedup key — e.g. ``pred=F.lower(F.col('name'))`` for
    case-insensitive dedupe. It overrides ``fields``.

    ``bufsize`` + ``order_by`` is the windowed parity mode
    (process.py:887): a row is kept iff the previous occurrence of its
    key, in global ``order_by`` order, is more than ``bufsize`` rows
    back (meza measures the window in kept distinct keys; row distance
    is the shuffle-friendly equivalent — both bound the dedupe
    horizon). Fully distributed: the global index is two-pass
    partition offsets, the distance check a per-key window.
    """
    if callable(pred) and not isinstance(pred, Column):
        pred = pred(df)

    if bufsize is not None:
        if order_by is None:
            raise ValueError("bufsize dedupe requires order_by")
        key = pred if pred is not None else \
            F.struct(*[F.col(f) for f in (fields or df.columns)])
        cols = df.columns
        tagged, _ = _global_index(df, order_by)
        tagged = tagged.withColumn("_key", key)
        w = Window.partitionBy("_key").orderBy("_gidx")
        dist = F.col("_gidx") - F.lag("_gidx").over(w)
        return (tagged.withColumn("_dist", dist)
                .where(F.col("_dist").isNull() | (F.col("_dist") > bufsize))
                .select(*cols))

    if pred is not None:
        agg = F.min(F.struct(*[F.col(c) for c in df.columns])).alias("_r")
        out = df.groupBy(pred.alias("_key")).agg(agg)
        return out.select(*[F.col(f"_r.{c}").alias(c) for c in df.columns])

    if not fields:
        return df.dropDuplicates()
    if keep == "any":
        return df.dropDuplicates(list(fields))
    other = [c for c in df.columns if c not in fields]
    if not other:
        return df.dropDuplicates(list(fields))
    # min_by over a struct = deterministic "first" without a window shuffle
    agg = F.min(F.struct(*[F.col(c) for c in other])).alias("_rest")
    out = df.groupBy(*fields).agg(agg)
    return out.select(*fields, *[F.col(f"_rest.{c}").alias(c) for c in other])


def hash_(df: DataFrame, fields: Sequence[str],
          algo: str = "md5") -> DataFrame:
    """Replace selected column values with their hex digest
    (ref: meza/process.py:1038-1070).

    JVM-side ``md5``/``sha1``/``sha2`` builtins — no Python UDF.
    """
    algo = algo.lower()
    out = df
    for f in fields:
        c = F.col(f).cast("string")
        if algo == "md5":
            h = F.md5(c)
        elif algo == "sha1":
            h = F.sha1(c)
        elif algo in ("sha256", "sha2"):
            h = F.sha2(c, 256)
        elif algo == "sha512":
            h = F.sha2(c, 512)
        elif algo == "crc32":
            h = F.crc32(c).cast("string")
        else:
            raise ValueError(f"unsupported hash algo: {algo}")
        out = out.withColumn(f, h)
    return out


def prepend(df: DataFrame, row: dict[str, Any]) -> DataFrame:
    """Push a row back onto the stream (ref: meza/process.py:603-631).

    DataFrames are re-executable so meza's iterator-repair use case
    vanishes; kept for API parity as a 1-row union.
    """
    spark = df.sparkSession
    one = spark.createDataFrame([row], schema=df.schema)
    return one.unionByName(df, allowMissingColumns=True)


def peek(df: DataFrame, n: int = 5) -> tuple[DataFrame, list[dict]]:
    """First n rows without consuming (ref: meza/process.py:634-667).

    Returns ``(df, rows)`` — the df unchanged (re-executable) and the
    sample as dicts. ``limit(n)`` short-circuits the scan.
    """
    rows = [r.asDict() for r in df.limit(n).collect()]
    return df, rows


def json_recode(df: DataFrame) -> DataFrame:
    """Normalize every value through a JSON encode/decode round-trip
    (ref: meza/process.py:118-158) — meza uses this to stringify
    Decimals/dates. Spark-first: ``to_json(struct(*)) → from_json`` with
    an all-string schema, entirely JVM-side.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(c, StringType()) for c in df.columns])
    packed = df.select(F.to_json(F.struct(*df.columns)).alias("_j"))
    return packed.select(F.from_json("_j", schema).alias("_s")).select("_s.*")


# ---------------------------------------------------------------------------
# sort / fill
# ---------------------------------------------------------------------------

def sort(df: DataFrame, keys: str | Sequence[str],
         reverse: bool | Sequence[bool] = False) -> DataFrame:
    """Total sort (ref: meza/process.py:36 — single asc key only there;
    multi-key + desc are the documented generalization).

    Spark performs a range-partitioned distributed sort (sampled
    boundaries → shuffle → per-partition sort): no single node ever
    holds the full data, unlike the reference's ``sorted(list(...))``.
    """
    if isinstance(keys, str):
        keys = [keys]
    if isinstance(reverse, bool):
        reverse = [reverse] * len(keys)
    cols = [F.col(k).desc() if r else F.col(k).asc()
            for k, r in zip(keys, reverse)]
    return df.orderBy(*cols)


def everseen(df: DataFrame, field: str, order_by: str, op: str = "min",
             partition_by: Sequence[str] | None = None) -> DataFrame:
    """Running extrema over the stream (ref: meza/fntools.py:1190-1218
    ``op_everseen``): emit the running min/max of ``field`` in
    ``order_by`` order as column ``{field}_everseen``.

    Window with ``rowsBetween(unboundedPreceding, 0)``. At scale an
    unpartitioned ordered window is a single-reducer sort — always pass
    ``partition_by`` when a natural key exists (the reference can't
    express this: its single thread IS one partition).
    """
    w = Window.partitionBy(*(partition_by or [])).orderBy(order_by) \
              .rowsBetween(Window.unboundedPreceding, 0)
    fn = {"min": F.min, "max": F.max, "sum": F.sum}[op]
    return df.withColumn(f"{field}_everseen", fn(field).over(w))


def sessionize(df: DataFrame, key: str | Sequence[str], ts_col: str,
               gap_seconds: int = 1800,
               tiebreak: str | Sequence[str] | None = None,
               session_col: str = "session_id") -> DataFrame:
    """Gap-based sessionization: number each row's session within its
    key (beyond-reference batch twin of
    ``streaming.ops.session_window_agg``; SURVEY §2.8 frames sessions
    as a streaming concern, but training-data/event pipelines need the
    batch form too).

    A row starts a new session when it is the key's first event or the
    gap to the previous event exceeds ``gap_seconds``. Sessions are
    numbered 1..n per key in event-time order.

    Plan: one shuffle on ``key``; both the ``lag`` and the running
    ``sum`` ride the SAME per-key window ordering, so Spark evaluates
    them in a single WindowExec pass — no second sort, no second
    exchange. Per-key windows scale horizontally; skew only if one key
    dominates the corpus (then pre-split by day and renumber).

    Pass ``tiebreak`` (e.g. an event id) whenever ``ts_col`` can tie —
    required for run-to-run determinism under parallel input order.
    """
    keys = [key] if isinstance(key, str) else list(key)
    tb = ([tiebreak] if isinstance(tiebreak, str) else list(tiebreak or []))
    w = Window.partitionBy(*keys).orderBy(ts_col, *tb)
    ts = F.col(ts_col).cast("timestamp").cast("double")
    prev = F.lag(ts).over(w)
    new_sess = F.when(
        prev.isNull() | ((ts - prev) > F.lit(float(gap_seconds))),
        F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # two withColumns, one WindowExec: same partitioning+ordering, and
    # window functions can't nest, so the flag materializes first
    return (df.withColumn("_new_sess", new_sess)
            .withColumn(session_col, F.sum("_new_sess").over(run))
            .drop("_new_sess"))


def scd2_intervals(df: DataFrame, key: str | Sequence[str], ts_col: str,
                   attrs: Sequence[str] | None = None,
                   collapse: bool = False,
                   tiebreak: str | Sequence[str] | None = None) -> DataFrame:
    """Event log → slowly-changing-dimension type-2 validity intervals:
    each row gains ``valid_from`` (its timestamp) and ``valid_to`` (the
    key's next event, NULL while current). The standard build for
    as-of-joinable dimension history (the batch complement of
    ``asof_join``).

    ``collapse=True`` first drops rows whose ``attrs`` equal the key's
    previous row (lag compare), so intervals span unchanged runs — the
    actual SCD2 semantic rather than one interval per event.

    Plan: one shuffle on ``key``; lag (collapse) and lead (valid_to)
    share the same window partitioning+ordering, and the lead after a
    filter re-sorts locally without a second exchange. Pass
    ``tiebreak`` whenever ``ts_col`` can tie within a key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    tb = ([tiebreak] if isinstance(tiebreak, str) else list(tiebreak or []))
    w = Window.partitionBy(*keys).orderBy(ts_col, *tb)
    if collapse:
        if not attrs:
            raise ValueError("scd2_intervals: collapse=True needs attrs")
        same = F.lit(True)
        for a in attrs:
            same = same & F.lag(a).over(w).eqNullSafe(F.col(a))
        df = (df.withColumn("_same", same)
              .where(~F.coalesce("_same", F.lit(False))).drop("_same"))
        w = Window.partitionBy(*keys).orderBy(ts_col, *tb)
    return (df.withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w)))


def topk_per_group(df: DataFrame, partition_by: Sequence[str],
                   order_by: Sequence[str], k: int,
                   desc: bool | Sequence[bool] = True) -> DataFrame:
    """Top-k rows per group (beyond-reference: meza composes
    sort+islice per group by hand; SURVEY §2.4).

    ``row_number`` over a partitioned window — one shuffle on the group
    key, per-partition heap sort; include a unique tiebreak column in
    ``order_by`` for deterministic output.
    """
    if isinstance(desc, bool):
        desc = [desc] * len(order_by)
    cols = [F.col(c).desc() if d else F.col(c).asc()
            for c, d in zip(order_by, desc)]
    w = Window.partitionBy(*partition_by).orderBy(*cols)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def fillempty(df: DataFrame, value: Any = None, method: str | None = None,
              fields: Sequence[str] | None = None,
              fill_key: str | None = None,
              order_by: str | Sequence[str] | None = None,
              partition_by: Sequence[str] | None = None,
              limit: int | None = None,
              pred: Callable[[Column], Column] | None = None) -> DataFrame:
    """Fill empty holes (ref: meza/process.py:361-431, meza/fntools.py:906-994).

    Modes:
      - constant:            ``fillempty(df, value=0, fields=[...])``
      - from another column: ``fillempty(df, fill_key='other', fields=[...])``
      - forward fill:        ``method='front'`` (needs ``order_by``)
      - backward fill:       ``method='back'`` (needs ``order_by``)

    Hole definition (meza's ``fill`` default pred is
    ``x is None or x == ''``, fntools.py:921-923): NULL always, plus
    the empty string for string-typed columns. ``pred`` (a
    Column→Column boolean) widens it — a value is a hole when it is
    null OR ``pred(value)`` holds, e.g. ``pred=lambda c: c == 'N/A'``.
    Holes are normalized to real NULLs up front, so every mode sees
    one hole shape.

    meza's ffill walks the generator with carried state; Spark-first it
    is ``last(ignorenulls)`` over an ordered window. ``partition_by``
    bounds the window per key — at 100 TB an unpartitioned ordered
    window is a single-reducer bottleneck, so callers should always
    pass a partition key when one exists (meza has no such concept:
    its single thread IS one partition).
    """
    fields = list(fields or df.columns)
    dtypes = dict(df.dtypes)
    for f in fields:
        if f == fill_key:
            continue
        c = F.col(f)
        if pred is not None:
            hole = F.coalesce(pred(c), F.lit(False))
        elif dtypes.get(f) == "string":
            hole = c == ""
        else:
            continue
        df = df.withColumn(f, F.when(~hole, c))
    if fill_key is not None:
        out = df
        for f in fields:
            if f == fill_key:
                continue
            out = out.withColumn(f, F.coalesce(F.col(f), F.col(fill_key)))
        return out
    if method in ("front", "back"):
        if order_by is None:
            raise ValueError("front/back fill requires order_by")
        order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
        # `back` = `front` over the REVERSED order: one code path, and
        # the limit arithmetic (rows since donor) holds either way
        if method == "front":
            ordering = [F.col(c).asc() for c in order_cols]
        else:
            ordering = [F.col(c).desc() for c in order_cols]
        worder = Window.partitionBy(*(partition_by or [])).orderBy(*ordering)
        wframe = worder.rowsBetween(Window.unboundedPreceding, 0)
        out = df
        for f in fields:
            filled = F.last(F.col(f), ignorenulls=True).over(wframe)
            if limit is not None:
                # meza's `limit` caps CONSECUTIVE fills: a hole farther
                # than `limit` rows from its donor stays null
                rn = F.row_number().over(worder)
                donor_rn = F.max(
                    F.when(F.col(f).isNotNull(), rn)).over(wframe)
                filled = F.when(
                    F.col(f).isNotNull() |
                    ((rn - donor_rn) <= limit), filled)
            out = out.withColumn("_fill_" + f, filled)
        for f in fields:
            out = out.withColumn(f, F.col("_fill_" + f)) \
                     .drop("_fill_" + f)
        return out
    # constant fill ('' holes already normalized to NULL above)
    return df.na.fill(value, subset=fields)


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

_AGG_FNS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg, "mean": F.avg,
    "count": F.count, "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "count_distinct": F.count_distinct,
    "approx_count_distinct": F.approx_count_distinct,
    "collect_list": F.collect_list, "collect_set": F.collect_set,
    "stddev": F.stddev, "variance": F.variance, "median": F.median,
}


def _agg_col(op: str | Callable, field: str) -> Column:
    if callable(op):
        return op(field)
    return _AGG_FNS[op](field)


def aggregate(df: DataFrame, field: str, op: str | Callable = "sum",
              alias: str | None = None) -> DataFrame:
    """Whole-table aggregation of one field (ref: meza/process.py:513-553).

    meza collects all non-null values into a list and applies ``op``;
    Spark's partial/final aggregation computes the same with map-side
    combine — O(partitions) driver traffic, not O(rows).
    """
    alias = alias or f"{op if isinstance(op, str) else 'agg'}_{field}"
    return df.agg(_agg_col(op, field).alias(alias))


def merge(df: DataFrame, op: str | Callable | None = None,
          pred: Callable[[str], bool] | None = None) -> DataFrame:
    """Fold all rows into one (ref: meza/process.py:434-510).

    With ``op``: per-column reduce using ``op`` for the columns where
    ``pred(column)`` holds (meza's pred takes the key), ``last`` for the
    rest. Without ``op``: coalescing union — last non-null value per
    column (meza's dict-union, right wins).

    Note meza documents that reduce-of-mean ≠ mean
    (meza/process.py:465-471) — Spark's agg framework does the correct
    (sum,count) decomposition internally, which is exactly the
    ``fntools.sum_and_count`` partial-agg pattern the reference tests.
    """
    aggs = []
    for c in df.columns:
        if op is not None and (pred is None or pred(c)):
            aggs.append(_agg_col(op, c).alias(c))
        else:
            aggs.append(F.last(c, ignorenulls=True).alias(c))
    return df.agg(*aggs)


def group(df: DataFrame, keys: str | Sequence[str],
          aggs: dict[str, tuple[str, str | Callable]] | None = None,
          apply: Callable | None = None, schema=None) -> DataFrame:
    """Group by key(s) (ref: meza/process.py:556-600).

    meza sorts + ``itertools.groupby`` then applies an arbitrary Python
    ``aggregator`` per group. Spark-first split:
      - ``aggs={'out_name': ('field', 'op')}`` → hash aggregation with
        map-side partial agg (no sort, one shuffle).
      - ``apply=fn, schema=...`` → ``groupBy().applyInPandas`` for
        arbitrary per-group logic (Arrow-batched; the grouped-map UDTF
        path, ref §2.9).
    Default (neither) → groups as ``(key, collect_list(struct(*)))``
    matching meza's ``(key, list-of-rows)`` tuples.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if apply is not None:
        # Pre-partition by the grouping keys with an EXPLICIT partition
        # count: AQE's byte-based coalescing would otherwise fold the
        # tiny shuffle ahead of a Pandas UDF into one partition and
        # serialize all the Python work (bytes ≠ cost for UDF stages).
        # An explicit-count repartition is exempt from AQE coalescing,
        # and groupBy on the same keys reuses it — no second Exchange.
        n = df.sparkSession.sparkContext.defaultParallelism
        return (df.repartition(n, *[F.col(k) for k in keys])
                .groupBy(*keys).applyInPandas(apply, schema=schema))
    if aggs:
        cols = [_agg_col(o, f).alias(name) for name, (f, o) in aggs.items()]
        return df.groupBy(*keys).agg(*cols)
    rest = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(
        F.collect_list(F.struct(*rest)).alias("group"))


def pivot(df: DataFrame, rows: Sequence[str], column: str, data: str,
          op: str | Callable = "sum", values: Sequence[str] | None = None,
          fill_value: Any = None, dropna: bool = True) -> DataFrame:
    """Spreadsheet pivot (ref: meza/process.py:670-745): ``rows`` dims ×
    distinct values of ``column`` as new columns, aggregating ``data``.

    Exact Spark match: ``groupBy(rows).pivot(column).agg(op(data))``.
    Passing ``values`` explicitly skips the distinct-values job — at
    100 TB always pass it when the domain is known. meza's
    ``dropna=False`` keeps all output columns; Spark's pivot already
    emits the full column set, nulls where empty (use ``fill_value``).
    """
    p = df.groupBy(*rows).pivot(column, list(values) if values else None)
    out = p.agg(_agg_col(op, data))
    if fill_value is not None:
        value_cols = [c for c in out.columns if c not in rows]
        out = out.na.fill(fill_value, subset=value_cols)
    return out


def normalize(df: DataFrame, fields: Sequence[str], key_name: str = "column",
              value_name: str = "data", invert: bool = False) -> DataFrame:
    """Unpivot/melt (ref: meza/process.py:748-782): listed columns become
    (column, data) key/value rows. ``invert=True`` melts everything BUT
    ``fields`` (meza's keep-list mode).

    Spark-first: native ``unpivot`` (codegen'd ``Expand`` node — each
    input row fans out with no shuffle).
    """
    if invert:
        ids = list(fields)
        vals = [c for c in df.columns if c not in ids]
    else:
        vals = list(fields)
        ids = [c for c in df.columns if c not in vals]
    # unpivot requires a common type across value columns; cast to string
    # mirrors meza (whose rows are str-typed dicts post-read)
    casted = df.select(*ids, *[F.col(v).cast("string").alias(v) for v in vals])
    return casted.unpivot(ids, vals, key_name, value_name)


def split(df: DataFrame, path: str, field: str | None = None,
          chunksize: int | None = None, fmt: str = "parquet") -> None:
    """Partitioned write (ref: meza/process.py:957-971): split records
    into files by group key and/or chunk size.

    Spark-first: ``write.partitionBy(field)`` with
    ``maxRecordsPerFile`` — the executor-parallel equivalent of meza's
    suffix-named output files.
    """
    w = df.write.mode("overwrite")
    if chunksize:
        w = w.option("maxRecordsPerFile", chunksize)
    if field:
        w = w.partitionBy(field)
    getattr(w, fmt)(path)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def join(left: DataFrame, right: DataFrame,
         on: str | Sequence[str] | Column | None = None,
         how: str = "inner", broadcast: bool = False) -> DataFrame:
    """Join (ref: meza/process.py:785-810).

    meza's ``join`` is a nested-loop cross product with dict-merge
    (right wins on collision) — the docs use it to emulate a keyed
    merge. The engine exposes the real thing: keyed
    inner/left/right/full/semi/anti plus cross when ``on is None``.

    ``broadcast=True`` hints a map-side (broadcast-hash) join for small
    right sides — no shuffle of the big side; AQE also auto-converts
    when the built side is under the threshold.
    """
    r = F.broadcast(right) if broadcast else right
    if on is None:
        return left.crossJoin(r)
    return left.join(r, on=on, how=how)


def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: Sequence[str] | None = None,
              direction: str = "backward", suffix: str = "_right",
              tolerance: float | None = None) -> DataFrame:
    """As-of join: for each left row, the single right row with the
    nearest ``on`` value at or before it (``backward``) / at or after it
    (``forward``), matched within ``by`` groups. Beyond-reference
    operator (SURVEY §2.6 names as-of as an engine extension; the
    reference has only a nested-loop cross join, meza/process.py:785-810).

    Spark-first plan: ONE shuffle, no range-explosion join. Both sides
    are unioned with a side marker, then one ordered window per ``by``
    group carries the most recent right-side values onto each left row
    (``last(..., ignorenulls)`` over ``rowsBetween(unboundedPreceding,
    0)``). This is the scale-correct strategy: a naive
    ``l.ts >= r.ts`` range join is O(|L|·|R|) per key, while the union
    +window is O((|L|+|R|) log) within each shuffle partition, keyed by
    ``by`` — skew maps to key skew, same mitigation (salting/AQE).

    Right-side value columns land under their own names, suffixed when
    they collide with left; the matched ``on`` value lands as
    ``{on}{suffix}``. ``tolerance`` (same units as ``on``; seconds for
    timestamps) voids matches farther than the bound.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = list(by or [])
    rvals = [c for c in right.columns if c != on and c not in by]
    rdt = dict(right.dtypes)
    ldt = dict(left.dtypes)
    tname = {c: (c + suffix if c in left.columns else c) for c in rvals}
    on_r = on + suffix

    l2 = left.select(
        *left.columns, F.lit(1).alias("_side"),
        F.lit(None).cast(rdt[on]).alias(on_r),
        *[F.lit(None).cast(rdt[c]).alias(tname[c]) for c in rvals])
    lonly = [c for c in left.columns if c != on and c not in by]
    r2 = right.select(
        *by, F.col(on),
        *[F.lit(None).cast(ldt[c]).alias(c) for c in lonly],
        F.lit(0).alias("_side"),
        F.col(on).alias(on_r),
        *[F.col(c).alias(tname[c]) for c in rvals]).select(*l2.columns)

    u = l2.unionByName(r2)
    carried = [on_r] + [tname[c] for c in rvals]
    if direction == "backward":
        # right rows sort before left at equal `on` → ties match (>=)
        w = (Window.partitionBy(*by).orderBy(F.col(on).asc(),
                                             F.col("_side").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    else:
        w = (Window.partitionBy(*by).orderBy(F.col(on).asc(),
                                             F.col("_side").desc())
             .rowsBetween(0, Window.unboundedFollowing))
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    out = u.select(*u.columns,
                   *[pick(F.col(c)).over(w).alias("_m_" + c) for c in carried])
    out = out.where(F.col("_side") == 1)
    if tolerance is not None:
        # TIMESTAMP_NTZ has no direct double cast in Spark 4; go via
        # timestamp (epoch seconds) for any timestamp-typed `on`
        def _num(c: Column) -> Column:
            if ldt[on].startswith("timestamp"):
                return c.cast("timestamp").cast("double")
            return c.cast("double")

        gap = _num(F.col(on)) - _num(F.col("_m_" + on_r))
        gap = gap if direction == "backward" else -gap
        ok = gap <= F.lit(float(tolerance))
        out = out.select(
            *left.columns,
            *[F.when(ok, F.col("_m_" + c)).alias(c) for c in carried])
    else:
        out = out.select(*left.columns,
                         *[F.col("_m_" + c).alias(c) for c in carried])
    return out


def normalized_join(left: DataFrame, right: DataFrame,
                    left_on: str, right_on: str | None = None,
                    how: str = "inner",
                    normalizer: Callable | None = None) -> DataFrame:
    """Equi-join on NORMALIZED string keys — the messy-data join
    (meza pairs `underscorify`/`slugify` hygiene with joins by hand,
    ref meza/fntools.py:267-324 + process.py:785; this fuses them):
    casefold, trim, collapse non-alphanumerics to single spaces on
    both sides, then a plain equi-join.

    ``normalizer`` overrides the default Column→Column cleaner. The
    normalized key is computed per side BEFORE the join (one
    projection; the join itself stays a hash join on the derived
    key — broadcast/SMJ selection is untouched). Both original key
    columns survive in the output.
    """
    right_on = right_on or left_on
    # trim AFTER collapsing: punctuation at the edges would otherwise
    # leave leading/trailing spaces in the key
    norm = normalizer or (lambda c: F.trim(F.regexp_replace(
        F.lower(c), r"[^a-z0-9]+", " ")))
    lk = left.withColumn("_nk", norm(F.col(left_on)))
    rk = right.withColumn("_nk", norm(F.col(right_on)))
    return lk.join(rk, on="_nk", how=how).drop("_nk")


def fuzzy_join(left: DataFrame, right: DataFrame,
               left_on: str, right_on: str | None = None,
               max_distance: int = 2,
               block_on: tuple[str, str] | None = None) -> DataFrame:
    """Edit-distance join: match rows whose keys are within
    ``max_distance`` Levenshtein edits — typo-tolerant record linkage
    (JVM ``levenshtein`` expression, no Python).

    UNBLOCKED this is a cross join with an O(|a|·|b|) distance per
    pair — fine for dimension-sized sides (one side broadcasts), NOT
    for two fact tables. At scale pass ``block_on=(left_col,
    right_col)``: equality on the block key (e.g. first letter +
    length bucket, a phonetic code, a city) turns the plan into a
    hash join with the distance as a post-filter. A ``distance``
    column is appended.
    """
    right_on = right_on or left_on
    dist = F.levenshtein(F.col(left_on), F.col(right_on))
    if block_on is not None:
        lb, rb = block_on
        out = left.join(right, F.col(lb) == F.col(rb))
    else:
        out = left.crossJoin(right)
    return (out.withColumn("distance", dist)
            .where(F.col("distance") <= max_distance))


def flatten(df: DataFrame, sep: str = "_") -> DataFrame:
    """Recursively flatten struct columns to ``parent{sep}child`` scalar
    columns (ref: meza/fntools.py:1058-1105 — meza's data model is flat,
    nested dicts are flattened on ingest). Pure projection: no shuffle,
    prunes to the leaves actually selected downstream."""
    from pyspark.sql.types import StructType

    def leaves(prefix_expr: str, prefix_name: str, dtype) -> list[Column]:
        if isinstance(dtype, StructType):
            out: list[Column] = []
            for fld in dtype.fields:
                out += leaves(f"{prefix_expr}.`{fld.name}`",
                              f"{prefix_name}{sep}{fld.name}", fld.dataType)
            return out
        return [F.col(prefix_expr).alias(prefix_name)]

    cols: list[Column] = []
    for fld in df.schema.fields:
        if isinstance(fld.dataType, StructType):
            cols += leaves(f"`{fld.name}`", fld.name, fld.dataType)
        else:
            cols.append(F.col(f"`{fld.name}`"))
    return df.select(*cols)


def slice_rows(df: DataFrame, order_by: str | Sequence[str],
               first: int = 1, last: int | None = None) -> DataFrame:
    """Ordered row-range slice, 1-based inclusive (ref: meza's
    first_row/last_row reader options, meza/io.py:458-479; negative
    ``last`` keeps all but the final ``-last`` rows, the tail-skipping
    deque at meza/io.py:473-479).

    Scale-safe two-pass global numbering — NO single-partition window:
      1. range-repartition + sortWithinPartitions on the keys (the
         distributed half of a global sort) behind a lazy lineage cut,
         so both passes see identical partition contents;
      2. pass 1: count rows per partition — a partitions-sized agg;
      3. cumulative offsets on the driver (O(partitions) integers);
      4. pass 2: keep rows where ``offset[pid] + local_index`` falls
         in [first, last], reading ``offset[pid]`` from one literal
         array of the offsets (no join). The local index comes from
         ``monotonically_increasing_id``'s documented layout
         (partition id in the upper bits, the within-partition record
         number in the lower 33).
    Every partition filters locally in parallel; the old
    ``row_number() OVER ()`` formulation funneled the whole frame
    through one reducer.
    """
    cols = df.columns
    tagged, total = _global_index(df, order_by)
    if last is not None and last < 0:
        last = total + last
    rn = F.col("_gidx") + 1  # 1-based global row number
    out = tagged.where(rn >= first)
    if last is not None:
        out = out.where(rn <= last)
    return out.select(*cols)


def _global_index(df: DataFrame, order_by: str | Sequence[str]):
    """Distributed 0-based global row index ``_gidx`` in key order:
    ``offset[pid] + local_index`` from :func:`~meza_spark.util.range_offsets`
    (no single-partition window). Returns ``(tagged_df, total_rows)``.
    """
    tagged, total = range_offsets(df, order_by)
    return (tagged.withColumn("_gidx", F.col("_off") + F.col("_idx"))
            .drop("_pid", "_idx", "_off"), total)


def salted_join(left: DataFrame, right: DataFrame, on: str | Sequence[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Skew-resistant equi-join: the left (large, skewed) side gets a
    uniform random salt 0..salt-1 appended to the key; the right side is
    replicated ``salt`` times so every (key, salt) pair still matches.
    A hot key's rows then spread over ``salt`` reducers instead of one.

    Use when one join key dominates (power-law ids) and the right side
    is too big to broadcast but small enough to replicate ``salt``×.
    AQE's skew-join split covers sort-merge plans automatically —
    salting remains the portable fix and also works for groupBy-style
    hot keys. Inner and left joins only (the replicated right makes
    right/full semantics ambiguous).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    keys = [on] if isinstance(on, str) else list(on)
    lsalt = left.withColumn("_salt",
                            (F.rand(seed=42) * salt).cast("int"))
    rsalt = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = lsalt.join(rsalt, on=keys + ["_salt"], how=how)
    return out.drop("_salt")


_SALT_DECOMP = {
    "sum": ("sum", F.sum), "count": ("sum", F.count),
    "min": ("min", F.min), "max": ("max", F.max),
}


def salted_agg(df: DataFrame, keys: str | Sequence[str],
               aggs: dict[str, tuple[str, str]], salt: int = 16) -> DataFrame:
    """Skew-resistant two-phase aggregation for hot grouping keys.

    Phase 1 groups by (keys…, random salt) so a dominant key's rows
    land on ``salt`` reducers; phase 2 re-combines the partials by the
    real keys. Only decomposable ops (sum/count/min/max — ``count``
    recombines with ``sum``) are accepted: that is what makes the
    two-phase split algebraically exact. AQE's skew handling covers
    sort-merge JOINS, not aggregations; map-side partial aggregation
    already helps, but a truly hot key still funnels its partials to
    one reducer — salting bounds that at ``1/salt``.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    for name, (_f, op) in aggs.items():
        if op not in _SALT_DECOMP:
            raise ValueError(
                f"salted_agg: op {op!r} for {name!r} is not decomposable "
                f"(supported: {sorted(_SALT_DECOMP)})")
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[_SALT_DECOMP[op][1](f).alias(name)
          for name, (f, op) in aggs.items()])
    refn = {name: _SALT_DECOMP[op][0] for name, (_f, op) in aggs.items()}
    return partial.groupBy(*keys).agg(
        *[_AGG_FNS[refn[name]](name).alias(name) for name in aggs])


def merge_into(target: DataFrame, source: DataFrame,
               on: str | Sequence[str],
               update_cols: Sequence[str] | None = None,
               insert: bool = True,
               delete_unmatched: bool = False) -> DataFrame:
    """SQL ``MERGE INTO`` semantics as ONE full-outer join — the upsert
    operator (beyond-reference; meza's nearest shape is ``merge``'s
    last-value-wins fold, ref meza/process.py:284-360, lifted to keyed
    row-level upserts).

      - matched (key in both):      take ``update_cols`` from source,
                                    everything else from target
      - not matched (source only):  insert the source row
                                    (``insert=False`` drops it)
      - not matched by source:      keep the target row, or drop it
                                    with ``delete_unmatched=True``
                                    (the full-sync variant)

    Plan shape: a single shuffle on the merge keys (sort-merge or
    broadcast if the source is small — Catalyst decides), presence
    flags are two literal columns, and every output column is one
    ``CASE WHEN``. No window, no second pass, no driver state — the
    same shape Delta/Iceberg MERGE compiles to for the copy-on-write
    case, minus the transactional file replacement.
    """
    keys = [on] if isinstance(on, str) else list(on)
    non_keys = [c for c in target.columns if c not in keys]
    upd = set(update_cols) if update_cols is not None else set(non_keys)
    missing = [c for c in target.columns if c not in source.columns]
    s = source
    for c in missing:  # source may carry only the updated columns
        s = s.withColumn(c, F.lit(None).cast(dict(target.dtypes)[c]))
    t = target.withColumn("_t", F.lit(1)) \
        .select(*keys, *[F.col(c).alias(f"_t_{c}") for c in non_keys], "_t")
    s = s.withColumn("_s", F.lit(1)) \
        .select(*keys, *[F.col(c).alias(f"_s_{c}") for c in non_keys], "_s")
    j = t.join(s, on=keys, how="full_outer")
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    t_only = F.col("_s").isNull()
    cols = [F.col(k) for k in keys]
    for c in non_keys:
        tc, sc = F.col(f"_t_{c}"), F.col(f"_s_{c}")
        val = (F.when(matched, sc if c in upd else tc)
               .when(t_only, tc).otherwise(sc))
        cols.append(val.alias(c))
    out = j
    if not insert:
        out = out.where(F.col("_t").isNotNull())
    if delete_unmatched:
        out = out.where(F.col("_s").isNotNull())
    return out.select(*cols)


def resolve_entities(df: DataFrame, id_col: str, match_col: str,
                     block_col: str | None = None,
                     max_distance: int = 2,
                     max_iter: int = 30) -> DataFrame:
    """Entity resolution end-to-end: typo'd duplicate records collapse
    into ONE golden record per real-world entity — the MDM
    consolidation step (beyond-reference: meza's ``merge`` union is
    last-write-wins over a whole stream, ref meza/process.py:434-510;
    this is keyed, fuzzy, and value-voted).

    Pipeline (each stage an already-scale-audited operator):
      1. candidate pairs: blocked Levenshtein self-join on
         ``match_col`` (``fuzzy_join`` — block or it's a cross join);
      2. clusters: distributed connected components over the id
         pairs;
      3. golden record: per non-id column, the most frequent
         NON-NULL value among cluster members, ties broken by the
         smallest value — deterministic and SQL-replayable (unlike
         engine ``mode()``, whose tie-break is unspecified).

    Returns one row per entity: ``entity_id`` (min member id), the
    golden columns, and ``n_members``. Singletons pass through as
    their own entity. Scale: the vote is one (entity, column-value)
    count + per-entity window PER COLUMN over cluster members only —
    never the full corpus; wide tables should vote on the columns
    that matter and carry the rest from the min-id member.
    """
    from .llm.cluster import connected_components

    sides = df.select(F.col(id_col), F.col(match_col),
                      *([F.col(block_col)] if block_col else []))
    a = sides.select(*[F.col(c).alias(f"_a_{c}") for c in sides.columns])
    b = sides.select(*[F.col(c).alias(f"_b_{c}") for c in sides.columns])
    block = ((f"_a_{block_col}", f"_b_{block_col}")
             if block_col else None)
    pairs = (fuzzy_join(a, b, left_on=f"_a_{match_col}",
                        right_on=f"_b_{match_col}",
                        max_distance=max_distance, block_on=block)
             .where(F.col(f"_a_{id_col}") < F.col(f"_b_{id_col}"))
             .select(F.col(f"_a_{id_col}").alias("id_a"),
                     F.col(f"_b_{id_col}").alias("id_b")))
    comp = connected_components(pairs, max_iter=max_iter).select(
        F.col("id").alias("_er_id"), F.col("component").alias("_er_comp"))
    members = (df.join(comp, df[id_col] == F.col("_er_id"), "left")
               .withColumn("entity_id",
                           F.coalesce("_er_comp", F.col(id_col)))
               .drop("_er_id", "_er_comp"))
    members = lineage_cut(members)  # vote fan-out below
    base = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    out = base
    for c in df.columns:
        if c == id_col:
            continue
        counts = (members.where(F.col(c).isNotNull())
                  .groupBy("entity_id", c)
                  .agg(F.count(F.lit(1)).alias("_n")))
        w = Window.partitionBy("entity_id").orderBy(
            F.col("_n").desc(), F.col(c).asc())
        win = (counts.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).select("entity_id", c))
        out = out.join(win, on="entity_id", how="left")
    return out.select("entity_id",
                      *[c for c in df.columns if c != id_col],
                      "n_members")


def snapshot_diff(old: DataFrame, new: DataFrame,
                  on: str | Sequence[str],
                  compare_cols: Sequence[str] | None = None,
                  out: str = "change") -> DataFrame:
    """Keyed diff of two dataset snapshots — the change-data-capture
    primitive behind incremental syncs, audit reports, and "what did
    yesterday's pipeline run change?" questions (beyond-reference:
    meza's nearest shape is ``merge``'s coalescing union,
    ref meza/process.py:434-510, which has no change classification).

    Returns new-side rows (old-side values for deletes) plus ``out`` ∈
    ``{'added','removed','changed','unchanged'}``. Comparison is
    null-safe (``<=>``) over ``compare_cols`` (default: every shared
    non-key column); columns present in only one snapshot are ignored
    — pair with a driver-side schema check for drift.

    Plan shape: ONE full-outer join on the keys (the merge_into
    shape); classification is a CASE over two presence flags and one
    null-safe conjunction — no window, no second pass. At 100 TB,
    bucket both snapshots on the key to make the join co-located and
    exchange-free.
    """
    keys = [on] if isinstance(on, str) else list(on)
    shared = [c for c in old.columns
              if c in new.columns and c not in keys]
    cmp_cols = list(compare_cols) if compare_cols is not None else shared
    o = old.select(*keys,
                   *[F.col(c).alias(f"_o_{c}") for c in shared],
                   F.lit(1).alias("_o"))
    nw = new.select(*keys,
                    *[F.col(c).alias(f"_n_{c}") for c in shared],
                    F.lit(1).alias("_n"))
    j = o.join(nw, on=keys, how="full_outer")
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"_n_{c}").eqNullSafe(F.col(f"_o_{c}"))
    change = (F.when(F.col("_o").isNull(), "added")
              .when(F.col("_n").isNull(), "removed")
              .when(same, "unchanged").otherwise("changed"))
    cols = [F.col(k) for k in keys]
    for c in shared:
        cols.append(F.when(F.col("_n").isNotNull(), F.col(f"_n_{c}"))
                    .otherwise(F.col(f"_o_{c}")).alias(c))
    return j.select(*cols, change.alias(out))


def resample(df: DataFrame, ts_col: str, step: str,
             keys: str | Sequence[str] = (),
             aggs: dict[str, tuple[str, str]] | None = None,
             fill: str | None = None) -> DataFrame:
    """Regular-grid time-series resample with GAP MATERIALIZATION:
    bucket rows to ``step`` (seconds, e.g. '3600'), aggregate per
    (key, bucket), then left-join a generated per-key scaffold of
    EVERY bucket between that key's min and max — missing intervals
    come back as real rows (null aggregates), which
    ``fill='ffill'`` then fills from the last observed bucket and
    ``fill='zero'`` zero-fills.

    The gap-filling resample is the standard time-series densify
    (pandas ``resample().ffill()``, TimescaleDB ``time_bucket_gapfill``
    — public semantics; meza itself has no time ops). Scale shape:
    one agg shuffle on (key, bucket); the scaffold is
    ``sequence()``+``explode`` off the per-key min/max aggregate (its
    size is the OUTPUT size, not the input); ffill is one partitioned
    window, no Python anywhere.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    aggs = aggs or {"n": (ts_col, "count")}
    step_s = int(step)
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / step_s)
              * step_s).cast("long")
    agg_exprs = [getattr(F, how)(col).alias(name)
                 for name, (col, how) in aggs.items()]
    got = (df.withColumn("_bk", bucket)
           .groupBy(*keys, "_bk").agg(*agg_exprs))
    # per-key bucket span → scaffold of every step in [min, max]
    span = got.groupBy(*keys).agg(F.min("_bk").alias("_lo"),
                                  F.max("_bk").alias("_hi"))
    scaffold = span.select(
        *keys, F.explode(F.sequence(
            F.col("_lo"), F.col("_hi"),
            F.lit(step_s).cast("long"))).alias("_bk"))
    out = scaffold.join(got, [*keys, "_bk"], "left")
    if fill == "zero":
        for name in aggs:
            out = out.withColumn(name, F.coalesce(name, F.lit(0)))
    elif fill == "ffill":
        w = (Window.partitionBy(*keys) if keys else
             Window.partitionBy(F.lit(1)))
        w = w.orderBy("_bk").rowsBetween(Window.unboundedPreceding, 0)
        for name in aggs:
            out = out.withColumn(
                name, F.last(name, ignorenulls=True).over(w))
    elif fill == "linear":
        # linear interpolation between the neighboring observed
        # buckets (numeric aggs only): y = y₀ + (y₁−y₀)·(t−t₀)/(t₁−t₀)
        # — two partitioned window passes (prev/next carry), no Python
        base = (Window.partitionBy(*keys) if keys else
                Window.partitionBy(F.lit(1))).orderBy("_bk")
        wb = base.rowsBetween(Window.unboundedPreceding, 0)
        wf = base.rowsBetween(0, Window.unboundedFollowing)
        for name in aggs:
            obs_bk = F.when(F.col(name).isNotNull(), F.col("_bk"))
            y0 = F.last(name, ignorenulls=True).over(wb)
            t0 = F.last(obs_bk, ignorenulls=True).over(wb)
            y1 = F.first(name, ignorenulls=True).over(wf)
            t1 = F.first(obs_bk, ignorenulls=True).over(wf)
            interp = F.when(F.col(name).isNotNull(), F.col(name)) \
                .when(y0.isNull(), y1).when(y1.isNull(), y0) \
                .otherwise(y0 + (y1 - y0)
                           * (F.col("_bk") - t0) / (t1 - t0))
            out = out.withColumn(name, interp)
    return out.withColumn("bucket_ts", F.timestamp_seconds("_bk")) \
        .drop("_bk")


def co_occurrence(df: DataFrame, group_col: str, item_col: str,
                  min_support: int = 1,
                  max_group: int | None = 10_000) -> DataFrame:
    """Pairwise co-occurrence counts (market-basket / related-items):
    for every unordered pair of distinct items appearing in the same
    group, the number of groups containing both. Returns
    ``(item_a, item_b, n_groups)`` with ``item_a < item_b``.

    Scale shape: distinct ``(group, item)`` first (multiplicity inside
    a group doesn't count), then a group-keyed self-join — the
    quadratic term is bounded per group, and ``max_group`` drops
    groups with more distinct items than the cap (a pathological
    10k-item basket contributes 50M pairs; the cap is the same skew
    valve every bucketed pair generator here uses, and a dropped
    basket is a deliberate, documented loss — diff the group count
    against ``max_group=None`` to audit it).
    ``min_support`` filters AFTER aggregation (it cannot prune pairs
    early without a second pass; at scale pre-thin items by frequency
    first).
    """
    # Materialize the distinct base ONCE (optimization r9, guide §2.4):
    # the cap's sizes pass and both self-join sides reference ``base``;
    # lazily that re-ran the scan + distinct subtree three times. The
    # checkpointed frame is ids-only (group key + item), the same
    # lightweight-proxy shape every pair generator here stages.
    base = lineage_cut(df.select(F.col(group_col).alias("_g"),
                                 F.col(item_col).alias("_i")).distinct())
    a = base.select("_g", F.col("_i").alias("item_a"))
    b = base.select("_g", F.col("_i").alias("item_b"))
    if max_group is not None:
        # group-size cap as a partial-aggregated groupBy + semi-join
        # over the CHECKPOINTED base (review r9): a window count would
        # buffer every row of a pathological mega-group in a single
        # WindowExec task before the filter could drop it — defeating
        # the skew valve the cap exists to be. The groupBy collapses
        # map-side; the join is AQE-skew-splittable; both read the
        # checkpoint, so the distinct subtree still runs once. Capping
        # ONE leg suffices: the inner self-join on ``_g`` emits zero
        # pairs for any group absent from the capped side, so the
        # quadratic explosion never forms — the uncapped leg's
        # mega-group rows hash-probe and drop.
        keep_g = lineage_cut(
            base.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_group).select("_g"))
        a = a.join(keep_g, on="_g")
    pairs = (a.join(b, on="_g")
             .where(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count("*").alias("n_groups")))
    return pairs.where(F.col("n_groups") >= int(min_support))


def normalize_json(df: DataFrame, json_col: str, array_field: str,
                   keep: Sequence[str] | None = None,
                   schema: str | None = None,
                   prefix: str = "",
                   keep_empty: bool = False) -> DataFrame:
    """Semi-structured → relational: parse a JSON string column and
    EXPLODE one nested array-of-objects into a child table (one row
    per element, parent columns carried). The one-to-many inverse of
    collecting detail rows into a document — API-response and event-
    payload ingestion in one step.

    ``schema`` is a DDL string for the parsed document; when omitted
    it is INFERRED from one non-null sample value via
    ``schema_of_json`` — a single bounded driver job, the same
    sampling posture as ``typetools.detect_types`` (pin the schema
    explicitly in production so a sparse first document can't narrow
    it — AND because the sample job executes the input's lineage once
    before the real pass does; materialize expensive upstreams first). Top-level scalar fields of the document surface as columns;
    the array's element fields surface with ``prefix``.

    Row-local after the parse (``from_json`` + one ``explode`` —
    codegen, no shuffle, no UDF); rows whose document is missing the
    array or fails to parse produce no child rows by default —
    ``keep_empty=True`` switches to ``explode_outer`` so they surface
    once with null element columns (the left-join shape: audit which
    parents contributed nothing). Quarantine malformed documents
    upstream with ``io.read_ndjson_quarantine`` semantics when that
    matters.
    """
    from pyspark.sql.types import ArrayType, StructType

    if schema is None:
        sample = (df.select(F.col(json_col))
                  .where(F.col(json_col).isNotNull()).limit(1).collect())
        if not sample:
            raise ValueError("normalize_json: no non-null sample to "
                             "infer a schema from; pass schema=")
        schema = df.sparkSession.range(1).select(
            F.schema_of_json(F.lit(sample[0][0])).alias("s")
        ).collect()[0]["s"]
    parsed = df.withColumn("_doc", F.from_json(F.col(json_col), schema))
    dtype = parsed.schema["_doc"].dataType
    if not isinstance(dtype, StructType) or \
            array_field not in dtype.fieldNames():
        raise ValueError(f"normalize_json: parsed document has no "
                         f"field {array_field!r}")
    adt = dtype[array_field].dataType
    if not isinstance(adt, ArrayType):
        raise ValueError(f"normalize_json: {array_field!r} is not an "
                         f"array")
    scalars = [f.name for f in dtype.fields if f.name != array_field]
    expl = F.explode_outer if keep_empty else F.explode
    out = (parsed.withColumn("_e", expl(f"_doc.{array_field}"))
           .select(*(keep or []),
                   *[F.col(f"_doc.{s}").alias(s) for s in scalars],
                   *([F.col(f"_e.{f.name}").alias(f"{prefix}{f.name}")
                      for f in adt.elementType.fields]
                     if isinstance(adt.elementType, StructType)
                     else [F.col("_e").alias(f"{prefix}value")])))
    return out
