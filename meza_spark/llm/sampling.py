"""Deterministic sampling + shard packing for training-data pipelines.

Data mixing wants REPRODUCIBLE subsampling: the same row set regardless
of partitioning, executor count, or engine — which rules out
``df.sample`` (RNG is partition-dependent). Hash sampling keys the
keep-decision on a content hash, so it is stable, stratifiable, and
expressible in any engine (the DuckDB oracle runs the same md5
comparison).

Shard packing assigns documents to fixed token-budget shards by global
cumulative sum — the step before writing training shards. Spark-first:
the global cumsum is two-pass (per-partition sums → driver offsets →
per-partition window), never a single-reducer window.
"""

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..process import _global_index
from ..util import range_offsets
from .text import tokens

__all__ = ["hash_sample", "stratified_hash_sample",
           "stratified_topk_sample", "budget_sample", "split_train_val",
           "global_shuffle", "pack_shards", "pack_sequences",
           "temperature_sample",
           "quality_sample"]


def _hex_threshold(fraction: float) -> str:
    """fraction of keyspace → 16-hex-digit threshold string. Comparing
    lowercase fixed-width hex strings is numeric comparison, so both
    Spark and any SQL oracle can evaluate ``md5(key) < threshold``.
    fraction 1.0 → 'g', which sorts above every hex digest."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * (1 << 64)), "016x")


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                seed: int = 0) -> DataFrame:
    """Deterministic ``fraction``-sample: keep rows whose
    ``md5(key || seed)`` falls below the fraction of the hash space.

    Same rows every run, every partitioning, every engine; sampling
    different ``seed`` values yields independent (disjoint-ish)
    samples. Row-local filter — pushes down, no shuffle.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(f"#{seed}")))
    return df.where(h < _hex_threshold(fraction))


def stratified_hash_sample(df: DataFrame, key_col: str, strata_col: str,
                           fractions: dict, default: float = 0.0,
                           seed: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (e.g. keep 100% of books, 10% of common-crawl). ``fractions`` maps
    stratum value → fraction; unlisted strata get ``default``.

    One row-local CASE over md5 thresholds: no shuffle, no RNG state,
    reproducible across engines and cluster sizes.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    expr = None
    for value, frac in fractions.items():
        test = (F.col(strata_col) == value, h < _hex_threshold(frac))
        expr = F.when(*test) if expr is None else expr.when(*test)
    keep = (h < _hex_threshold(default)) if expr is None \
        else expr.otherwise(h < _hex_threshold(default))
    return df.where(keep)


def temperature_sample(df: DataFrame, key_col: str, strata_col: str,
                       alpha: float = 0.7, seed: int = 0) -> DataFrame:
    """Temperature-based corpus mixing (the ``|D_s|^α`` rule of
    multilingual LM training — mBERT/XLM-R exponential smoothing,
    public): rebalance strata toward the mixture
    ``p_s ∝ c_s^α`` by deterministically downsampling stratum ``s`` at
    rate ``r_s = c_s^(α-1) / max_s' c_s'^(α-1)`` — the smallest
    stratum keeps everything, large strata shed mass, and α=1 is a
    no-op while α=0 targets the uniform mixture.

    Two steps, both scale-flat: a strata-sized ``groupBy().count()``
    (collected — strata counts are small by definition), then ONE
    row-local CASE of md5-threshold comparisons exactly like
    :func:`stratified_hash_sample` — no shuffle of the corpus, no RNG
    state, reproducible on any engine/cluster/partitioning.

    Rates are rounded to 6 digits and thresholds use a 60-bit hash
    prefix so an external SQL oracle reproduces the row set exactly.
    """
    counts = {r[0]: r[1] for r in
              df.groupBy(strata_col).count().collect()}
    if not counts:
        return df
    mx = max(c ** (alpha - 1.0) for c in counts.values())
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(f"#{seed}"))), 1, 15)
    expr = None
    for value in sorted(counts):
        rate = round((counts[value] ** (alpha - 1.0)) / mx, 6)
        th = "g" if rate >= 1.0 else format(int(rate * (1 << 60)), "015x")
        test = (F.col(strata_col) == value, h < F.lit(th))
        expr = F.when(*test) if expr is None else expr.when(*test)
    return df.where(expr.otherwise(F.lit(False)))


def stratified_topk_sample(df: DataFrame, key_col: str, strata_col: str,
                           counts: dict, default: int = 0,
                           seed: int = 0) -> DataFrame:
    """Exact-COUNT stratified sampling: keep exactly ``counts[stratum]``
    rows per stratum (all rows when the stratum is smaller), chosen by
    hash order — the "give me 10k examples per language" primitive
    fraction-based sampling can't express. Deterministic: selection is
    ``row_number() over (partition by stratum order by md5(key||seed),
    key) <= k`` — same rows on any partitioning or engine, and the
    oracle replays it verbatim.

    Scale: one shuffle on the stratum key. A mega-stratum serializes
    its rank into one task — for web-scale strata pre-thin with
    ``hash_sample(frac≈2k/|stratum|)`` first, then exact-rank the
    small survivor set (two-stage top-k, same result distribution).
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(f"#{seed}"))),
        F.col(key_col))
    k = F.coalesce(*[F.when(F.col(strata_col) == s, F.lit(int(c)))
                     for s, c in counts.items()],
                   F.lit(int(default))) if counts else F.lit(int(default))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def budget_sample(df: DataFrame, key_col: str, strata_col: str,
                  size_col: str, budgets: dict | None = None,
                  default: int = 0, seed: int = 0) -> DataFrame:
    """Fill each stratum to a SIZE budget (tokens/chars/bytes), not a
    row count: keep rows in hash order until the stratum's cumulative
    ``size_col`` reaches its budget — "give me 2B tokens of web and
    500M of books", the unit data-mixing recipes are actually written
    in. The row that crosses the boundary is kept (greedy prefix), so
    each non-exhausted stratum lands within one document of its
    budget.

    Deterministic: the prefix is ordered by ``md5(key || seed), key``
    — same selection on any partitioning or engine; growing a stratum
    only APPENDS candidates after the cut, it never reshuffles the
    kept prefix... unless the new keys hash into it, which is the
    same stability contract as :func:`stratified_topk_sample`.

    Scale: one shuffle on the stratum key; the exclusive-prefix sum is
    a per-stratum running window (integer arithmetic — exact). A
    mega-stratum serializes its window into one task: pre-thin with
    :func:`hash_sample` at rate ≈ 2·budget/Σsize first, then
    budget-fill the survivor set (two-stage, same greedy semantics).
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    w = (Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum(F.col(size_col).cast("long")).over(w),
                     F.lit(0))
    budgets = budgets or {}
    b = (F.coalesce(*[F.when(F.col(strata_col) == s, F.lit(int(v)))
                      for s, v in budgets.items()],
                    F.lit(int(default)))
         if budgets else F.lit(int(default)))
    return (df.withColumn("_cum", cum).where(F.col("_cum") < b)
            .drop("_cum"))


def split_train_val(df: DataFrame, key_col: str,
                    val_fraction: float = 0.01,
                    test_fraction: float = 0.0,
                    seed: int = 0, out: str = "split") -> DataFrame:
    """Deterministic train/val(/test) assignment by hash threshold:
    ``md5(key || seed)`` partitions the keyspace into contiguous
    bands — val first, then test, remainder train.

    The contract that matters for training pipelines: a document's
    split NEVER changes when the corpus grows, shrinks, or is
    repartitioned (unlike ``randomSplit``), so eval contamination
    can't creep in between pipeline runs. Row-local CASE, no shuffle.
    """
    if val_fraction + test_fraction > 1.0:
        raise ValueError("val_fraction + test_fraction must be <= 1")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    v_th = _hex_threshold(val_fraction)
    t_th = _hex_threshold(min(val_fraction + test_fraction, 1.0))
    expr = F.when(h < v_th, "val")
    if test_fraction > 0:
        expr = expr.when(h < t_th, "test")
    return df.withColumn(out, expr.otherwise("train"))


def global_shuffle(df: DataFrame, key_col: str, seed: int = 0,
                   out: str = "shuffle_rank") -> DataFrame:
    """Deterministic global shuffle for training order: rank every row
    by ``md5(key || seed)`` — a reproducible pseudo-random permutation
    (same order on any engine / cluster size / partition layout),
    unlike ``df.orderBy(rand())``.

    Scale shape: one range-partitioned distributed sort on a 32-char
    key (Spark samples boundaries, shuffles once, sorts partitions
    locally). The emitted 0-based ``out`` rank is the global row index
    from two-pass partition offsets — count per partition, driver
    cumsum, within-partition record number — NO window at all.
    """
    cols = df.columns
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    tagged, _ = _global_index(df.withColumn("_hk", h), "_hk")
    return tagged.select(*cols, F.col("_gidx").alias(out))


def pack_shards(df: DataFrame, weight_col: str, budget: int,
                order_by: str | Sequence[str],
                out: str = "shard_id") -> DataFrame:
    """Assign each row a shard id so consecutive rows (in ``order_by``
    order) accumulate ~``budget`` weight per shard:
    ``shard_id = floor(exclusive_cumsum(weight) / budget)`` — the
    deterministic pre-step to writing fixed-size training shards
    (``df.write.partitionBy(out)``).

    Scale shape: global cumulative sum WITHOUT a global window —
    range-repartition + sortWithinPartitions, per-partition weight
    sums (pass 1), driver-side exclusive offsets (O(partitions)), then
    a per-partition running-sum window (pass 2) whose partition key is
    the physical partition id, so no reducer sees more than one
    partition's rows.
    """
    cols = df.columns
    tagged, _ = range_offsets(df, order_by, weight_col)
    w = (Window.partitionBy("_pid").orderBy("_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    local_ex = F.coalesce(F.sum(weight_col).over(w), F.lit(0))
    shard = F.floor((F.col("_off") + local_ex) / budget).cast("bigint")
    return tagged.withColumn(out, shard).select(*cols, out)


def pack_sequences(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", size: int = 512,
                   seed: int = 0) -> DataFrame:
    """Concat-and-chunk training sequences: tokenize documents, lay
    them end-to-end in a deterministic hash order, and emit
    fixed-``size`` token sequences that SPAN document boundaries — the
    standard pretraining batch-prep step (every sequence is exactly
    ``size`` tokens except the final remainder). Returns one row per
    sequence: ``seq_id``, ``n_tokens``, ``n_docs`` (documents
    contributing), ``text`` (tokens re-joined with spaces).

    Scale shape: the global token offset comes from the same two-pass
    exclusive cumsum as :func:`pack_shards` (per-partition sums →
    driver offsets → partition-local window; no global single-reducer
    window). Each document then explodes into only the 1-2+ sequences
    it touches (rows ≈ docs, not tokens), pieces carry pre-sliced
    token arrays once through one shuffle on ``seq_id``, and assembly
    is an array-sort + concat per sequence. Deterministic: hash order
    on ``(md5(id||seed), id)`` is partitioning- and engine-invariant.
    """
    toks = tokens(F.col(text_col))
    base = (df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
            .where(F.size("_t") > 0)
            .withColumn("_n", F.size("_t").cast("long"))
            .withColumn("_ok", F.md5(F.concat(
                F.col("_id").cast("string"), F.lit(f"#{seed}")))))
    tagged, _ = range_offsets(base, ["_ok", "_id"], "_n")
    w = (Window.partitionBy("_pid").orderBy("_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    local_ex = F.coalesce(F.sum("_n").over(w), F.lit(0).cast("long"))
    placed = tagged.withColumn("_g", F.col("_off") + local_ex)  # global start
    # the sequences this doc touches: floor(g/size) .. floor((g+n-1)/size)
    seqs = F.sequence(F.floor(F.col("_g") / size),
                      F.floor((F.col("_g") + F.col("_n") - 1) / size))
    pieces = placed.select(
        "_id", "_t", "_g", "_n", F.explode(seqs).alias("seq_id"))
    gstart = F.greatest(F.col("seq_id") * size, F.col("_g"))
    gend = F.least((F.col("seq_id") + 1) * size, F.col("_g") + F.col("_n"))
    piece = F.slice("_t", (gstart - F.col("_g") + 1).cast("int"),
                    (gend - gstart).cast("int"))
    pieces = pieces.select(
        "seq_id", gstart.alias("_gs"),
        F.concat_ws(" ", piece).alias("_piece"),
        (gend - gstart).alias("_len"))
    return (pieces.groupBy("seq_id")
            .agg(F.sum("_len").cast("int").alias("n_tokens"),
                 F.count("*").alias("n_docs"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("_gs"), F.col("_piece")))),
                     lambda s: s["_piece"])).alias("text")))


def quality_sample(df: DataFrame, key_col: str, score_col: str,
                   gamma: float = 1.0, seed: int = 0) -> DataFrame:
    """Quality-weighted sampling: keep each row with probability
    ``clamp(score, 0, 1) ** gamma`` — the curation step that keeps
    high-quality documents and probabilistically thins the tail
    (DataComp/FineWeb-style quality weighting, public pattern), made
    DETERMINISTIC: the coin flip is ``md5(key || seed)`` against a
    per-row 60-bit threshold, so the same rows survive on every run,
    partitioning, and engine. ``gamma > 1`` sharpens toward
    high-quality docs; ``gamma < 1`` flattens.

    Row-local filter: no shuffle, no RNG state, pushes down.
    """
    score = F.least(F.lit(1.0), F.greatest(
        F.lit(0.0), F.col(score_col).cast("double")))
    rate = F.round(F.pow(score, F.lit(float(gamma))), 6)
    h15 = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(f"#{seed}"))), 1, 15)
    thr = F.when(rate >= 1.0, F.lit("g")).otherwise(
        F.format_string(
            "%015x",
            F.floor(rate * F.lit(1152921504606846976.0)).cast("long")))
    return df.where(h15 < thr)
