"""Event-sequence analytics: funnels and cohort retention — the
product-analytics queries every event table eventually needs, built as
plain DataFrame aggregation chains so Catalyst plans them (no UDFs,
no per-user collect).

Scale shape: ``funnel`` is one filtered aggregation per step, each
joined back on the user key — frames shrink monotonically down the
funnel (step k can only lose users), so AQE broadcasts the tail
joins; the only shuffles are on ``user_col``. ``cohort_retention`` is
two aggregations (first-seen, then cohort×period distinct counts).
Both are exactly replayable in ANSI SQL (chained CTE aggs — see the
__spark_entry__ twins).

No reference analog (meza has no event ops); beyond-reference
analytics layer per the build charter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import lineage_cut

__all__ = ["funnel", "cohort_retention", "moving_zscore", "cusum",
           "ewma", "attribution", "rfm"]


def funnel(df: DataFrame, steps: Sequence[str],
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type",
           within_seconds: int | None = None) -> DataFrame:
    """Ordered-sequence funnel: for each user, step k counts only if a
    matching event occurs strictly AFTER their step-(k-1) time (first
    qualifying occurrence wins; ``within_seconds`` additionally bounds
    the gap between consecutive steps). Returns one row per step:
    ``(step_idx, step, users)`` with ``users`` monotonically
    non-increasing.

    Semantics pinned deliberately: "min qualifying timestamp per
    step", not "any subsequence" — deterministic, replayable, and the
    standard product-analytics definition.
    """
    if not steps:
        raise ValueError("funnel: need at least one step")
    t1 = (df.where(F.col(type_col) == steps[0])
          .groupBy(user_col).agg(F.min(ts_col).alias("_t1")))
    times = t1
    # Per-step lineage barrier (optimization r9, guide §2.4): each
    # ``times`` frame is referenced TWICE by the next step (the step's
    # qualifying join AND the left-join accumulation), so the lazy
    # subtree DOUBLES per step — a 4-step funnel re-ran the step-1 agg
    # 8× (46 Exchange nodes at sf0.1). ``lineage_cut`` on every
    # intermediate frame (per-user rows — the small decision table)
    # makes each step compute once; the final frame is consumed once
    # by the count and stays lazy. Purely physical: per-step min
    # timestamps are unchanged.
    for i, step in enumerate(steps[1:], start=2):
        times = lineage_cut(times)
        prev = F.col(f"_t{i - 1}")
        cond = F.col(ts_col) > prev
        if within_seconds is not None:
            cond = cond & (F.col(ts_col) <=
                           prev + F.expr(f"INTERVAL {int(within_seconds)} SECOND"))
        nxt = (df.where(F.col(type_col) == step)
               .join(times.select(user_col, f"_t{i - 1}"), on=user_col)
               .where(cond)
               .groupBy(user_col).agg(F.min(ts_col).alias(f"_t{i}")))
        times = times.join(nxt, on=user_col, how="left")
    counts = times.agg(*[F.count(f"_t{i}").alias(f"_c{i}")
                         for i in range(1, len(steps) + 1)])
    # unpivot via the Column API, not an interpolated stack() string —
    # step names are user data and must never be lexed as SQL
    rows = F.array(*[
        F.struct(F.lit(i).alias("step_idx"), F.lit(s).alias("step"),
                 F.col(f"_c{i}").alias("users"))
        for i, s in enumerate(steps, start=1)])
    return (counts.select(F.explode(rows).alias("_r"))
            .select("_r.step_idx", "_r.step", "_r.users"))


def cohort_retention(df: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts", period: str = "week",
                     max_periods: int | None = None) -> DataFrame:
    """Cohort retention matrix: cohort = each user's first-seen period
    (``date_trunc``), and for every later period in which they appear,
    one distinct-user count. Returns ``(cohort, period_n, users)``
    where ``period_n`` is whole periods since the cohort start
    (day-difference floor-divided — integer-exact in any engine).

    Two aggregations, both shuffling on narrow keys (user, then
    cohort×period). ``period``: 'week' | 'day' | 'month' — for
    'month', period_n counts calendar months, not 30-day blocks.
    """
    days_per = {"day": 1, "week": 7}
    first = (df.groupBy(user_col)
             .agg(F.date_trunc(period, F.min(ts_col)).alias("_cohort")))
    acts = (df.select(user_col, F.date_trunc(period, F.col(ts_col))
                      .alias("_p"))
            .distinct()
            .join(first, on=user_col))
    if period in days_per:
        pn = (F.datediff(F.col("_p"), F.col("_cohort"))
              / days_per[period]).cast("int")
    elif period == "month":
        pn = ((F.year("_p") - F.year("_cohort")) * 12
              + (F.month("_p") - F.month("_cohort"))).cast("int")
    else:
        raise ValueError(f"cohort_retention: unsupported period "
                         f"{period!r}")
    out = (acts.withColumn("period_n", pn)
           .groupBy(F.col("_cohort").cast("date").alias("cohort"),
                    "period_n")
           .agg(F.count_distinct(user_col).alias("users")))
    if max_periods is not None:
        out = out.where(F.col("period_n") <= max_periods)
    return out


def moving_zscore(df: DataFrame, partition_col: str, ts_col: str,
                  value_col: str, window: int = 24,
                  min_points: int = 3,
                  tiebreak: str | None = None,
                  exact: bool = True) -> DataFrame:
    """Rolling anomaly score: for each row, the z-score of its value
    against the mean/std of the PRECEDING ``window`` rows in its
    series (the row itself excluded — detection, not smoothing).
    Adds ``z_micro`` (z-score in 1e-6 units, null when the trailing
    window has < ``min_points`` rows or zero variance).

    Engine-exact by construction (the repo's parity discipline):
    values quantize to int64 micro-units FIRST, the window accumulates
    decimal sums of x and x² (order-free exact integers — doubles
    would make the result depend on frame evaluation order), and the
    final z is one fixed shape of IEEE ops over those exact integers:

        var_q = (n*s2 - s1²) / (n*(n-1))      (sample variance, micro²)
        z     = (v - s1/n) / sqrt(var_q)

    One shuffle on the series key, one sorted window pipeline (running
    sums + lags — see the in-body note; the trailing-frame sums are
    recovered as running-sum differences, exact by integer
    arithmetic). sqrt is
    correctly-rounded per IEEE-754, so it replays exactly. Pass
    ``tiebreak`` (a unique column) when ``ts_col`` can collide within
    a series — a row-frame over tied timestamps is otherwise
    partitioning-dependent.

    ``exact=False`` is the production fast path (r4 verdict #9): plain
    IEEE window ``avg``/``stddev_samp`` over doubles — same API, same
    output column, same plan shape, no decimal accumulators or
    string-routed casts. Its ``z_micro`` can differ from the exact
    path by ±1 in the last micro-digit (float summation order), which
    is why the hash gate pins the exact path; at 100 TB you want this
    one.
    """
    from pyspark.sql import Window

    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = (Window.partitionBy(partition_col).orderBy(*order)
         .rowsBetween(-window, -1))
    if not exact:
        vd = F.col(value_col).cast("double")
        step = (df.withColumn("_n", F.count(value_col).over(w))
                .withColumn("_m", F.avg(vd).over(w))
                .withColumn("_sd", F.stddev_samp(vd).over(w)))
        z = (vd - F.col("_m")) / F.col("_sd")
        ok = (F.col("_n") >= int(min_points)) & (F.col("_sd") > 0)
        return (step.withColumn(
            "z_micro",
            F.when(ok, F.floor(z * 1000000 + F.lit(0.5)).cast("long")))
            .drop("_n", "_m", "_sd"))

    # Trailing-frame sums via running-sum differences (optimization r9,
    # guide §1.2 per-task work): Spark evaluates a sliding frame
    # ([-window,-1]) by re-accumulating all `window` frame rows for
    # EVERY output row — O(window) BigDecimal adds per row per
    # aggregate — while an unboundedPreceding frame is incremental
    # (O(1)/row). The frame sum is recovered exactly from the running
    # sums: sum[i-window..i-1] = C(i-1) − C(i-window-1), i.e.
    # lag(C,1) − lag(C,window+1), with a missing lag meaning "before
    # the partition start" (C = 0). Exact-integer decimal arithmetic
    # makes the difference bit-identical to the direct frame sum; an
    # empty/all-null frame yields 0 here where the frame sum yields
    # NULL, but every consumer sits behind ``ok`` (_n >= min_points),
    # which is false in exactly those rows for both forms. Same single
    # exchange and sort; the lags ride the same Window spec. Overflow
    # bound: the PARTITION-cumulative Σ_vq² must stay < 1e38 — at
    # |value| ≤ V the per-row vq² is ~V²·1e12, so a series survives
    # ~1e26/V² rows (V=1e3 → 1e20 rows; V=1e9 → only 1e8). Because
    # non-ANSI decimal overflow is a silent NULL that the coalesce
    # below would turn into WRONG sums (not nulls), overflow is
    # detected per row and raised loudly instead (review r9): a NULL
    # cumulative sum where the matching cumulative count is positive
    # can only be overflow.
    wcum = (Window.partitionBy(partition_col).orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wlag = Window.partitionBy(partition_col).orderBy(*order)

    q = F.floor(F.col(value_col).cast("double") * 1000000 + F.lit(0.5)) \
        .cast("decimal(38,0)")
    lag_cols = {}
    for src in ("_cn", "_c1", "_c2"):
        for off, tag in ((1, "a"), (window + 1, "b")):
            lag_cols[f"_g{tag}{src[1:]}"] = F.lag(src, off).over(wlag)
    dz = F.lit(0).cast("decimal(38,0)")

    def _diff(src, zero):
        return (F.coalesce(F.col(f"_ga{src[1:]}"), zero)
                - F.coalesce(F.col(f"_gb{src[1:]}"), zero))

    bad = ((F.coalesce(F.col("_gacn"), F.lit(0)) > 0)
           & (F.col("_gac1").isNull() | F.col("_gac2").isNull())) | \
          ((F.coalesce(F.col("_gbcn"), F.lit(0)) > 0)
           & (F.col("_gbc1").isNull() | F.col("_gbc2").isNull()))
    step = (df.withColumn("_vq", q)
            .withColumn("_cn", F.count("_vq").over(wcum))
            .withColumn("_c1", F.sum("_vq").over(wcum))
            .withColumn("_c2", F.sum(F.col("_vq") * F.col("_vq"))
                        .over(wcum))
            .withColumns(lag_cols)
            .withColumn("_n", _diff("_cn", F.lit(0)))
            .withColumn("_s1", _diff("_c1", dz))
            .withColumn("_s2", _diff("_c2", dz)))
    n = F.col("_n").cast("double")
    # decimal→double via STRING: the direct cast differs from DuckDB
    # by 1 ulp at ~1e9+ magnitudes (memory: parity traps; same reason
    # _dsum exists), and s2 reaches ~1e19 here
    s1 = F.col("_s1").cast("string").cast("double")
    s2 = F.col("_s2").cast("string").cast("double")
    var_q = (n * s2 - s1 * s1) / (n * (n - 1))
    v = F.col("_vq").cast("string").cast("double")
    z = (v - s1 / n) / F.sqrt(var_q)
    ok = (F.col("_n") >= int(min_points)) & (var_q > 0)
    return (step.withColumn(
        "z_micro",
        F.when(bad, F.raise_error(F.lit(
            "moving_zscore: decimal(38,0) overflow in the cumulative "
            "moment sums (series too long for the value magnitude); "
            "split the series or rescale value_col")).cast("long"))
        .otherwise(F.when(ok, F.floor(z * 1000000 + F.lit(0.5))
                          .cast("long"))))
        .drop("_vq", "_cn", "_c1", "_c2", "_n", "_s1", "_s2",
              *lag_cols))


def cusum(df: DataFrame, partition_col: str | Sequence[str], ts_col: str,
          value_col: str, slack: float = 0.0,
          threshold: float | None = None,
          target: float | None = None,
          tiebreak: str | None = None, exact: bool = True) -> DataFrame:
    """Per-series CUSUM changepoint statistic (Page 1954): detect a
    sustained shift of ``value_col`` away from ``target`` (default:
    the series mean). Adds ``cusum_hi_micro`` / ``cusum_lo_micro``
    (upper/lower one-sided statistics, 1e-6 units) and — when
    ``threshold`` is given — an ``alarm`` flag.

    The textbook recursion ``C_t = max(0, C_{t-1} + y_t)`` is not a
    window function, but its closed form is:

        C_t = S_t - min(0, min_{k<=t} S_k),   S_t = sum_{k<=t} y_k

    i.e. a running sum minus the running minimum of that sum — two
    window expressions over ONE sort, which is how it stays a single
    shuffle per series at 100 TB instead of a sequential scan.

    Engine-exact by construction: values quantize to int64 micro
    units first; with ``target=None`` the deviation is cross-
    multiplied (``n*x_t - T`` with T the exact series total) so the
    mean never materializes as a float — every S_t is an exact
    decimal integer at scale ``n``, and the only division is the
    final integral ``div n`` both engines floor identically. Pass
    ``tiebreak`` when ``ts_col`` can collide within a series.

    ``exact=False`` is the production fast path (r4 verdict #9): the
    same two-window closed form over plain IEEE doubles — the mean
    materializes as a float and the statistics quantize once at the
    end. Same API, same output columns, same single shuffle; the
    micro outputs can drift a few last-digit units from the exact
    path on long series (float running sums), so the hash gate pins
    the exact path.
    """
    from pyspark.sql import Window

    pcols = ([partition_col] if isinstance(partition_col, str)
             else list(partition_col))
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    wp = Window.partitionBy(*pcols)
    wrun = wp.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    slack_u = int(slack * 1000000 + 0.5)

    if not exact:
        vd = F.col(value_col).cast("double")
        dev = vd - (F.avg(vd).over(wp) if target is None
                    else F.lit(float(target)))
        step = (df
                .withColumn("_shi", F.sum(dev - F.lit(float(slack)))
                            .over(wrun))
                .withColumn("_slo", F.sum(-dev - F.lit(float(slack)))
                            .over(wrun))
                .withColumn("_mhi", F.min("_shi").over(wrun))
                .withColumn("_mlo", F.min("_slo").over(wrun)))
        hi = F.col("_shi") - F.least(F.lit(0.0), F.col("_mhi"))
        lo = F.col("_slo") - F.least(F.lit(0.0), F.col("_mlo"))
        out = (step
               .withColumn("cusum_hi_micro",
                           F.floor(hi * 1000000).cast("long"))
               .withColumn("cusum_lo_micro",
                           F.floor(lo * 1000000).cast("long")))
        if threshold is not None:
            thr_u = int(threshold * 1000000 + 0.5)
            out = out.withColumn(
                "alarm", (F.col("cusum_hi_micro") >= thr_u)
                | (F.col("cusum_lo_micro") >= thr_u))
        return out.drop("_shi", "_slo", "_mhi", "_mlo")

    vq = F.floor(F.col(value_col).cast("double") * 1000000
                 + F.lit(0.5)).cast("decimal(38,0)")
    step = df.withColumn("_vq", vq)
    if target is None:
        step = (step
                .withColumn("_n", F.count("_vq").over(wp)
                            .cast("decimal(38,0)"))
                .withColumn("_T", F.sum("_vq").over(wp))
                .withColumn("_c", F.col("_n") * F.col("_vq")
                            - F.col("_T")))
        scale = F.col("_n")
    else:
        tgt_u = int(target * 1000000 + 0.5)
        step = (step.withColumn("_n", F.lit(1).cast("decimal(38,0)"))
                .withColumn("_c", F.col("_vq") - F.lit(tgt_u)))
        scale = F.col("_n")
    step = (step
            .withColumn("_shi", F.sum(F.col("_c") - scale * slack_u)
                        .over(wrun))
            .withColumn("_slo", F.sum(-F.col("_c") - scale * slack_u)
                        .over(wrun))
            .withColumn("_mhi", F.min("_shi").over(wrun))
            .withColumn("_mlo", F.min("_slo").over(wrun)))
    zero = F.lit(0).cast("decimal(38,0)")
    out = (step
           .withColumn("cusum_hi_micro",
                       (F.col("_shi") - F.least(zero, F.col("_mhi"))))
           .withColumn("cusum_lo_micro",
                       (F.col("_slo") - F.least(zero, F.col("_mlo"))))
           .withColumn("cusum_hi_micro",
                       F.expr("cusum_hi_micro div _n").cast("long"))
           .withColumn("cusum_lo_micro",
                       F.expr("cusum_lo_micro div _n").cast("long")))
    if threshold is not None:
        thr_u = int(threshold * 1000000 + 0.5)
        out = out.withColumn(
            "alarm", (F.col("cusum_hi_micro") >= thr_u)
            | (F.col("cusum_lo_micro") >= thr_u))
    return out.drop("_vq", "_n", "_T", "_c", "_shi", "_slo",
                    "_mhi", "_mlo")


def ewma(df: DataFrame, partition_col: str | Sequence[str], ts_col: str,
         value_col: str, alpha_num: int = 1, alpha_den: int = 2,
         window: int = 8, tiebreak: str | None = None,
         exact: bool = True) -> DataFrame:
    """Per-series exponentially-weighted moving average over a bounded
    trailing window (the adjusted/finite form monitoring dashboards
    chart): with α = alpha_num/alpha_den rational,

        ewma_t = Σ_j (1-α)^j · x_{t-j}  /  Σ_j (1-α)^j ,  j = 0..n-1

    over the ``window`` most recent rows (n = rows actually present,
    so the series head uses shorter windows rather than a warm-up
    hole). Adds ``ewma_micro`` (1e-6 units).

    Engine-exact by construction: scaling every weight by
    alpha_den^(window-1) turns (1-α)^j into the INTEGER
    (alpha_den-alpha_num)^j · alpha_den^(window-1-j), so numerator and
    denominator are exact decimal integer sums; the single division is
    an integral ``div`` both engines floor identically. Weights and
    the n-indexed denominators are literal arrays baked into the plan
    — the window carries an ordered ``collect_list`` of at most
    ``window`` int64s and one ``aggregate`` over it, all row-local
    after the one series shuffle. Exact for non-negative values
    (``div`` truncates toward zero, which only equals floor when the
    numerator is non-negative — shift the series first if it can go
    below zero).

    ``exact=False`` is the production fast path (r4 verdict #9): the
    same bounded-window weighted sum over plain IEEE doubles — no
    decimal accumulators, no integer-weight overflow ceiling (any
    ``window``/``alpha_den``), works for negative values. Same API
    and output column; ``ewma_micro`` can differ by ±1 last-digit
    unit from the exact path, so the hash gate pins the exact path.
    """
    from pyspark.sql import Window

    if not (0 < alpha_num < alpha_den):
        raise ValueError("ewma: need 0 < alpha_num < alpha_den")
    if not exact:
        alpha = alpha_num / alpha_den
        wts = [(1.0 - alpha) ** j for j in range(window)]
        wlits_d = F.array(*[F.lit(x) for x in wts])
        dlits_d = F.array(*[F.lit(sum(wts[:n]))
                            for n in range(window + 1)])
        pcols_ = ([partition_col] if isinstance(partition_col, str)
                  else list(partition_col))
        order_ = [ts_col] + ([tiebreak] if tiebreak else [])
        wt = (Window.partitionBy(*pcols_).orderBy(*order_)
              .rowsBetween(-(window - 1), 0))
        step = df.withColumn(
            "_lst", F.collect_list(F.col(value_col).cast("double"))
            .over(wt))
        n = F.size("_lst")
        num = F.aggregate(
            F.transform(F.col("_lst"),
                        lambda x, i: x * F.element_at(wlits_d, n - i)),
            F.lit(0.0), lambda acc, t: acc + t)
        e = num / F.element_at(dlits_d, n + 1)
        return (step.withColumn(
            "ewma_micro",
            F.floor(e * 1000000 + F.lit(0.5)).cast("long"))
            .drop("_lst"))

    keep = alpha_den - alpha_num          # (1-α) numerator
    # weight by AGE j (0 = current row): keep^j * alpha_den^(W-1-j)
    w_int = [keep ** j * alpha_den ** (window - 1 - j)
             for j in range(window)]
    # decimal(38,0) bound: Σ_j |vq|·w_j with |vq| ≤ ~1e13 (values to
    # ~1e7 in micro units) must stay under 1e38 — past that the exact
    # accumulator would overflow silently wrong, so refuse loudly
    if sum(w_int) > 10 ** 25:
        raise ValueError(
            f"ewma: window={window} with alpha_den={alpha_den} needs "
            f"integer weights too large for exact decimal(38,0) "
            f"accumulation (|vq| can reach ~1e13, so sum(weights) "
            f"must stay <= 1e25); shrink the window or alpha_den")
    denoms = [sum(w_int[:n]) for n in range(window + 1)]
    wlits = F.array(*[F.lit(str(w)).cast("decimal(38,0)")
                      for w in w_int])
    dlits = F.array(*[F.lit(str(d)).cast("decimal(38,0)")
                      for d in denoms])

    pcols = ([partition_col] if isinstance(partition_col, str)
             else list(partition_col))
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    wtrail = (Window.partitionBy(*pcols).orderBy(*order)
              .rowsBetween(-(window - 1), 0))
    vq = F.floor(F.col(value_col).cast("double") * 1000000
                 + F.lit(0.5)).cast("long")
    step = (df.withColumn("_vq", vq)
            .withColumn("_lst", F.collect_list("_vq").over(wtrail)))
    # _lst is ascending-ts; age of element i is (n-1-i)
    n = F.size("_lst")

    def _term(x, i):
        age = n - 1 - i
        return x.cast("decimal(38,0)") * F.element_at(wlits, age + 1)

    num = F.aggregate(
        F.transform(F.col("_lst"), _term),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: acc + t)
    den = F.element_at(dlits, n + 1)
    return (step.withColumn("_num", num).withColumn("_den", den)
            .withColumn("ewma_micro",
                        F.expr("_num div _den").cast("long"))
            .drop("_vq", "_lst", "_num", "_den"))


def attribution(df: DataFrame, conversion_type: str,
                touch_types: Sequence[str], model: str = "last_touch",
                user_col: str = "user_id", ts_col: str = "ts",
                type_col: str = "event_type",
                lookback_seconds: int | None = None,
                tiebreak: str | None = None) -> DataFrame:
    """Multi-touch marketing attribution: distribute each conversion's
    credit across the touch events (``touch_types``, the channels)
    that preceded it for the same user. Returns one row per channel:
    ``(channel, credit_micro, n_conversions)`` where every conversion
    hands out EXACTLY 1,000,000 micro-credits (integer-exact, so the
    totals reconcile and the DuckDB twin hash-matches).

    Models: ``last_touch`` / ``first_touch`` (whole credit to the
    latest/earliest qualifying touch) and ``linear`` (each of the n
    touches gets ``1000000 div n``; the division remainder goes to
    the EARLIEST touch so no micro-credit is ever lost to rounding).
    Conversions with no qualifying touch are dropped (unattributed).

    Shape: one user-key equi-join (conversions × preceding touches,
    bounded by ``lookback_seconds`` — set it at scale: it is both the
    semantic window and the join's skew valve) + one per-conversion
    window + one channel aggregation. Pass ``tiebreak`` (a unique
    column) when touch timestamps can collide.
    """
    from pyspark.sql import Window

    if model not in ("last_touch", "first_touch", "linear"):
        raise ValueError(f"attribution: unknown model {model!r}")
    # a conversion is keyed by (user, conv_ts) — engine-invariant,
    # unlike a generated id; duplicate conversion events at the same
    # instant collapse to one credit (distinct), deliberately
    conv = (df.where(F.col(type_col) == conversion_type)
            .select(F.col(user_col).alias("_u"),
                    F.col(ts_col).alias("_cts"))
            .distinct())
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    touch = (df.where(F.col(type_col).isin(list(touch_types)))
             .select(F.col(user_col).alias("_u"), F.col(ts_col),
                     *([F.col(tiebreak)] if tiebreak else []),
                     F.col(type_col).alias("channel")))
    cond = F.col(ts_col) < F.col("_cts")
    if lookback_seconds is not None:
        cond = cond & (F.col(ts_col) >= F.col("_cts") - F.expr(
            f"INTERVAL {int(lookback_seconds)} SECOND"))
    j = conv.join(touch, on="_u").where(cond)
    w = Window.partitionBy("_u", "_cts")
    asc = w.orderBy(*order)
    # _rl (rank from the end) = _n + 1 - _rf instead of a second
    # row_number over the reversed order (optimization r9, guide §2.4):
    # the desc window forced a SECOND per-partition sort pass. With a
    # total order (ts + tiebreak — the documented determinism contract)
    # the reversed row_number is exactly n+1-rf; without a tiebreak and
    # with tied timestamps both forms are equally partition-order-
    # dependent (row_number over ties is arbitrary either way).
    j = (j.withColumn("_n", F.count(F.lit(1)).over(w))
         .withColumn("_rf", F.row_number().over(asc))
         .withColumn("_rl", F.col("_n") + 1 - F.col("_rf")))
    if model == "last_touch":
        credit = F.when(F.col("_rl") == 1, F.lit(1000000))
    elif model == "first_touch":
        credit = F.when(F.col("_rf") == 1, F.lit(1000000))
    else:
        base = F.expr("1000000 div _n")
        credit = base + F.when(
            F.col("_rf") == 1, F.lit(1000000) - base * F.col("_n")
        ).otherwise(F.lit(0))
    j = j.withColumn("_credit", credit).where(F.col("_credit") > 0)
    return (j.groupBy("channel")
            .agg(F.sum("_credit").cast("long").alias("credit_micro"),
                 F.count_distinct("_u", "_cts").alias("n_conversions")))


def rfm(df: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
        value_col: str | None = None, n_bins: int = 5,
        event_filter=None, exact: bool = True) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    customer-value scoring): one row per user with the raw metrics
    and 1..``n_bins`` ntile scores, higher = better (more recent,
    more events, more value). ``segment`` concatenates the three
    digits ('555' = best).

    Deterministic by construction: ``monetary_micro`` accumulates
    quantized integers in decimal (a double sum would be partition-
    order dependent), the ntiles order by (metric, user id) so ties
    never float, and recency scores by last-seen timestamp directly —
    no "days since now" wall-clock dependence. One aggregation + one
    window pass over the (small) per-user frame.

    ``event_filter``: optional Column predicate choosing which events
    count (e.g. ``F.col('event_type') == 'purchase'``).

    ``exact=True`` scores with global ntiles — an unpartitioned
    window, i.e. ONE sort task over the per-user frame; right up to a
    few hundred million users, wrong at billions. ``exact=False`` is
    the web-scale path (the ``perplexity_buckets`` pattern): three
    tiny ``approx_percentile`` aggregates broadcast back, scores
    assigned row-locally — no global sort anywhere.
    """
    from pyspark.sql import Window

    if event_filter is not None:
        df = df.where(event_filter)
    vq = (F.floor(F.col(value_col).cast("double") * 1000000
                  + F.lit(0.5)).cast("decimal(38,0)")
          if value_col else F.lit(0).cast("decimal(38,0)"))
    per_user = (df.groupBy(user_col)
                .agg(F.unix_millis(F.max(ts_col).cast("timestamp"))
                     .alias("last_ms"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.sum(vq).cast("long").alias("monetary_micro")))
    if exact:
        u = F.col(user_col)
        r_w = Window.orderBy(F.col("last_ms"), u)
        f_w = Window.orderBy(F.col("frequency"), u)
        m_w = Window.orderBy(F.col("monetary_micro"), u)
        scored = (per_user
                  .withColumn("r_score", F.ntile(n_bins).over(r_w))
                  .withColumn("f_score", F.ntile(n_bins).over(f_w))
                  .withColumn("m_score", F.ntile(n_bins).over(m_w)))
    else:
        probs = [i / n_bins for i in range(1, n_bins)]
        plit = "array(" + ", ".join(str(p) for p in probs) + ")"
        cuts = per_user.agg(*[
            F.expr(f"approx_percentile({c}, {plit})").alias(f"_c_{c}")
            for c in ("last_ms", "frequency", "monetary_micro")])
        scored = per_user.crossJoin(F.broadcast(cuts))
        for name, c in (("r_score", "last_ms"),
                        ("f_score", "frequency"),
                        ("m_score", "monetary_micro")):
            scored = scored.withColumn(
                name, (F.lit(1) + F.aggregate(
                    F.col(f"_c_{c}"), F.lit(0),
                    lambda acc, cut: acc
                    + F.when(F.col(c) > cut, 1).otherwise(0)))
                .cast("int"))
        scored = scored.drop(*[f"_c_{c}" for c in
                               ("last_ms", "frequency",
                                "monetary_micro")])
    out = (scored
           .withColumn("segment",
                       F.concat(F.col("r_score").cast("string"),
                                F.col("f_score").cast("string"),
                                F.col("m_score").cast("string"))))
    return out
