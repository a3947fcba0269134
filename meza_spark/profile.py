"""Single-pass data profiling + histograms.

Beyond-reference: meza's closest facility is ``typetools.guess_type_by_
value`` sampling (ref: meza/typetools.py:103-141) — it inspects types
but never summarizes values. A 100 TB training-data pipeline needs a
cheap "what's in this table" pass before any cleaning decision:
null rates, cardinalities, ranges, means — per column, in ONE scan.

Scale design:
  - ``profile`` folds count/nulls/min/max/mean into ONE aggregation
    scan. Exact distincts deliberately run as one single-distinct
    aggregate per column, cross-joined onto the single-row result:
    packing N ``countDistinct`` into one agg makes Catalyst rewrite
    via Expand(×N+1) + SortAggregate KEYED BY the high-cardinality
    columns — a full wide sort (measured 2.7 s vs 0.6 s at sf0.1 for
    3 columns). The per-column scans each prune to one column
    (columnar source → cheap) and hash-aggregate without the blowup.
    ``approx=True`` keeps everything in the one scan with HLL
    sketches — at 100 TB that is the right default.
  - ``histogram`` with explicit bounds is one scan + one tiny shuffle
    (nbins groups); auto bounds cost one extra min/max scan first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import lineage_cut

__all__ = ["profile", "histogram", "winsorize", "skew_report", "psi_drift",
           "robust_outliers", "benford"]

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def profile(df: DataFrame, cols: Sequence[str] | None = None,
            approx: bool = False) -> DataFrame:
    """Per-column stats in long form: ``(column, metric, value_num,
    value_str)``, metrics ``count / nulls / distinct / min / max /
    mean`` (mean for numeric and decimal columns only).

    Numeric min/max/mean land in ``value_num`` (double); string and
    temporal min/max land in ``value_str``. One aggregation scan for
    everything but exact distincts; see the module docstring for why
    exact distincts run one-per-column.
    """
    dtypes = dict(df.dtypes)
    cols = list(cols) if cols is not None else df.columns
    aggs, plan = [], []   # plan: (col, metric, is_numeric, agg_alias)

    def _add(col: str, metric: str, expr, numeric: bool):
        alias = f"{col}__{metric}"
        aggs.append(expr.alias(alias))
        plan.append((col, metric, numeric, alias))

    distincts = []
    for c in cols:
        t = dtypes[c]
        num = t in _NUMERIC or t.startswith("decimal")
        _add(c, "count", F.count(F.col(c)).cast("double"), True)
        _add(c, "nulls",
             F.sum(F.col(c).isNull().cast("long")).cast("double"), True)
        if approx:
            _add(c, "distinct",
                 F.approx_count_distinct(c).cast("double"), True)
        else:
            alias = f"{c}__distinct"
            distincts.append(
                df.agg(F.countDistinct(c).cast("double").alias(alias)))
            plan.append((c, "distinct", True, alias))
        if num:
            _add(c, "min", F.min(c).cast("double"), True)
            _add(c, "max", F.max(c).cast("double"), True)
            _add(c, "mean",
                 (F.sum(F.col(c).cast("decimal(38,8)")).cast("double")
                  / F.count(F.col(c))), True)
        else:
            _add(c, "min", F.min(F.col(c).cast("string")), False)
            _add(c, "max", F.max(F.col(c).cast("string")), False)
    row = df.agg(*aggs)
    for d in distincts:   # 1-row × 1-row cross joins, all broadcast
        row = row.crossJoin(d)
    # unpivot the single row: stack(n, 'col','metric',num,str, ...)
    parts = []
    for col, metric, numeric, alias in plan:
        vn = f"CAST(`{alias}` AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        vs = "CAST(NULL AS STRING)" if numeric else f"CAST(`{alias}` AS STRING)"
        parts.append(f"'{col}', '{metric}', {vn}, {vs}")
    stack = (f"stack({len(plan)}, {', '.join(parts)}) "
             "AS (`column`, metric, value_num, value_str)")
    return row.select(F.expr(stack))


def histogram(df: DataFrame, col: str, nbins: int = 10,
              lo: float | None = None,
              hi: float | None = None) -> DataFrame:
    """Fixed-width histogram: ``(bucket, lo, hi, n)``, empty buckets
    included (so the output shape is nbins rows regardless of data).

    With explicit ``lo``/``hi`` this is one scan + an nbins-row
    aggregate; values outside the range clamp into the edge buckets.
    Auto bounds (``lo``/``hi`` None) cost one extra min/max scan —
    fine interactively, pass bounds in production. Empty buckets are
    restored with a broadcast range join against ``spark.range(nbins)``
    (metadata-only build side, no shuffle added).
    """
    if lo is None or hi is None:
        b = df.agg(F.min(col), F.max(col)).collect()[0]
        lo = float(b[0]) if lo is None else lo
        hi = float(b[1]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / nbins
    bucket = F.least(
        F.greatest(F.floor((F.col(col).cast("double") - F.lit(lo))
                           / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1)).cast("long")
    counts = (df.where(F.col(col).isNotNull())
              .select(bucket.alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))
    scaffold = (df.sparkSession.range(nbins)
                .select(F.col("id").alias("bucket")))
    return (scaffold.join(F.broadcast(counts), "bucket", "left")
            .select("bucket",
                    (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo"),
                    (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width))
                    .alias("hi"),
                    F.coalesce("n", F.lit(0)).alias("n")))


def winsorize(df: DataFrame, col: str, p_lo: float = 0.01,
              p_hi: float = 0.99, exact: bool = False,
              out: str | None = None) -> DataFrame:
    """Clamp ``col`` to its [p_lo, p_hi] percentile bounds — the
    standard outlier guard before scaling/normalizing a feature.

    Two passes: one aggregate for the two bounds (a 2-float scalar to
    the driver — not a data collect), one map to clamp. Default is
    ``percentile_approx`` (KLL-style sketch, bounded memory — the only
    sane choice at 100 TB); ``exact=True`` switches to exact
    interpolated ``percentile`` (per-group value buffer: fine to a few
    hundred million rows per executor, NOT for petabytes — use it when
    the column is small or pre-aggregated, or for differential
    testing).
    """
    fn = "percentile" if exact else "percentile_approx"
    row = df.agg(F.expr(
        f"{fn}({col}, array({p_lo!r}, {p_hi!r}))").alias("q")).collect()[0]
    lo, hi = (float(row["q"][0]), float(row["q"][1]))
    clamped = F.least(F.greatest(F.col(col).cast("double"), F.lit(lo)),
                      F.lit(hi))
    return df.withColumn(out or col, clamped)


def skew_report(df: DataFrame, key: str | list[str],
                top: int = 10) -> DataFrame:
    """Key-skew diagnosis before a join/groupBy on ``key``: the
    ``top`` heaviest keys with their row counts and corpus share —
    the number you look at to decide between a plain, salted
    (``process.salted_join``) or broadcast strategy.

    One groupBy shuffle + a k-row TakeOrdered; the grand total rides
    a broadcast one-row aggregate (no second scan of the grouped
    side, no driver round-trip in the plan). Deterministic: ties
    break on the key itself.
    """
    keys = [key] if isinstance(key, str) else list(key)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .select(*keys, "n",
                    (F.col("n").cast("double") / F.col("_total"))
                    .alias("share"))
            .orderBy(F.col("n").desc(), *[F.col(k).asc() for k in keys])
            .limit(top))


def psi_drift(df_a: DataFrame, df_b: DataFrame, col: str,
              nbins: int = 10, lo: float | None = None,
              hi: float | None = None, eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between two snapshots of a column —
    the standard production drift monitor (banking/ML-ops heuristic:
    <0.1 stable, 0.1-0.25 shifting, >0.25 drifted).

    Output: one row per bucket ``(bucket, lo, hi, frac_a, frac_b,
    psi)`` with ``psi = (frac_a - frac_b) · ln((frac_a+ε)/(frac_b+ε))``
    rounded to 6 places; ``sum(psi)`` is the headline index.

    Scale: each side is one scan → nbins-row aggregate; the bucket
    scaffold is a metadata-only ``spark.range`` broadcast. Pass
    explicit ``lo``/``hi`` in production (auto bounds cost one extra
    min/max scan of ``df_a`` and make the bins data-dependent).
    """
    if lo is None or hi is None:
        b = df_a.agg(F.min(col), F.max(col)).collect()[0]
        # empty/all-null snapshot → arbitrary unit range (both sides
        # produce zero counts, PSI comes out 0) instead of float(None)
        lo = (float(b[0]) if b[0] is not None else 0.0) \
            if lo is None else lo
        hi = (float(b[1]) if b[1] is not None else 1.0) \
            if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / nbins
    bucket = F.least(
        F.greatest(F.floor((F.col(col).cast("double") - F.lit(lo))
                           / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1)).cast("long")

    def _fracs(df, name):
        counts = (df.where(F.col(col).isNotNull())
                  .select(bucket.alias("bucket"))
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("_n")))
        # nbins-row barrier: without it the totals branch re-runs the
        # whole scan+agg (no common-subplan reuse in Catalyst)
        counts = lineage_cut(counts)
        total = counts.agg(F.sum("_n").alias("_t"))
        return (counts.crossJoin(F.broadcast(total))
                .select("bucket", (F.col("_n").cast("double")
                                   / F.col("_t")).alias(name)))

    scaffold = (df_a.sparkSession.range(nbins)
                .select(F.col("id").alias("bucket")))
    j = (scaffold
         .join(F.broadcast(_fracs(df_a, "frac_a")), "bucket", "left")
         .join(F.broadcast(_fracs(df_b, "frac_b")), "bucket", "left")
         .select("bucket",
                 F.coalesce("frac_a", F.lit(0.0)).alias("frac_a"),
                 F.coalesce("frac_b", F.lit(0.0)).alias("frac_b")))
    pa, pb = F.col("frac_a"), F.col("frac_b")
    psi = (pa - pb) * F.log((pa + F.lit(eps)) / (pb + F.lit(eps)))
    return (j.withColumn("lo", F.lit(lo) + F.col("bucket") * F.lit(width))
            .withColumn("hi", F.lit(lo) + (F.col("bucket") + 1)
                        * F.lit(width))
            .withColumn("psi", F.round(psi, 6))
            .orderBy("bucket"))


def robust_outliers(df: DataFrame, col: str,
                    by: Sequence[str] | None = None,
                    k: float = 3.0, exact: bool = True) -> DataFrame:
    """Median/MAD outlier flags — the robust alternative to z-scores
    (one corrupt batch can't drag the baseline the way it drags a
    mean/std). Per group (``by``; global when omitted) computes the
    median and the median-absolute-deviation, then flags rows with

        |x - median| > k · MAD

    Adds ``med``, ``mad``, ``is_outlier``. Two aggregation passes
    (median, then MAD of the residuals — MAD is not algebraic, it
    cannot fold into one), both shuffling only the group key; the
    flag itself is a row-local compare, so it pushes into whatever
    scan/filter follows.

    ``exact=True`` uses interpolated ``percentile`` (per-group value
    buffer — fine to a few million rows per group, and both engines
    interpolate identically so the gate hash-matches);
    ``exact=False`` swaps in ``percentile_approx`` (mergeable KLL
    sketch, bounded memory) for web-scale groups.
    """
    fn = "percentile" if exact else "percentile_approx"
    keys = list(by) if by else []
    med_expr = F.expr(f"{fn}({col}, 0.5)").alias("med")
    med = df.groupBy(*keys).agg(med_expr) if keys \
        else df.agg(med_expr)
    j = df.join(F.broadcast(med), on=keys) if keys \
        else df.crossJoin(F.broadcast(med))
    j = j.withColumn("_absdev", F.abs(F.col(col) - F.col("med")))
    mad_expr = F.expr(f"{fn}(_absdev, 0.5)").alias("mad")
    mad = j.groupBy(*keys).agg(mad_expr) if keys \
        else j.agg(mad_expr)
    out = j.join(F.broadcast(mad), on=keys) if keys \
        else j.crossJoin(F.broadcast(mad))
    return (out.withColumn(
        "is_outlier", F.col("_absdev") > F.lit(float(k)) * F.col("mad"))
        .drop("_absdev"))


def benford(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit profile — the classic fabricated-data
    screen (organic multiplicative quantities follow
    P(d) = log10(1 + 1/d); manual entry and synthetic padding don't).
    Returns one row per leading digit 1-9: observed count, observed
    share, the Benford expectation, and the deviation (1e-6 units).

    Engine-exact: the leading digit comes from
    ``y / 10^floor(log10 y)`` — one libm log10 + pow per row, the
    same shapes on both engines (quantize-and-stringify would be
    cleaner but ``floor()`` SATURATES at int64, silently bunching
    every value past ~9.2e12 onto digit 9 — found by the unit test).
    log10's last-ulp wobble at exact powers of ten wraps the lead to
    [10,11) or (0,1); both cases fold back deterministically. The
    share is an integer division of exact counts; the log10
    expectation is micro-rounded (the nine constants sit nowhere near
    a rounding boundary). One scan, one 9-row aggregate.
    """
    y = F.abs(F.col(col).cast("double"))
    p = F.floor(F.log10(y))
    lead = y / F.pow(F.lit(10.0), p.cast("double"))
    d0 = F.floor(lead)
    digit = (F.when(d0 >= 10, F.lit(1))
             .when(d0 <= 0, F.lit(9))
             .otherwise(d0)).cast("int")
    finite = ~F.isnan(y) & (y < float("inf"))
    observed = (df.where(F.col(col).isNotNull() & (y > 0) & finite)
                .groupBy(digit.alias("digit"))
                .agg(F.count(F.lit(1)).alias("n")))
    # scaffold 1-9 so a NEVER-OCCURRING digit still reports (a digit
    # with zero observations against a 30% expectation is the
    # strongest fabrication signal — it must not vanish from the
    # report just because groupBy never saw it)
    spark = df.sparkSession
    scaffold = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"))
    counts = (scaffold.join(observed, on="digit", how="left")
              .select("digit", F.coalesce("n", F.lit(0)).alias("n")))
    total = counts.agg(F.sum("n").alias("_t"))
    share = F.expr("(n * 1000000) div _t").cast("long")
    expect = F.floor(F.log10(F.lit(1.0) + F.lit(1.0)
                             / F.col("digit").cast("double"))
                     * 1000000 + F.lit(0.5)).cast("long")
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n",
                    share.alias("share_micro"),
                    expect.alias("benford_micro"),
                    (share - expect).alias("deviation_micro"))
            .orderBy("digit"))
