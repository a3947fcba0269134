"""Engine-internal utilities; ``lineage_cut`` is the only checkpoint call."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructField, StructType

__all__ = ["spread", "lineage_cut", "barrier", "range_offsets",
           "payload_rows", "extract_rows", "plan_stats"]


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure enough partitions to use the cluster for compute-heavy
    row-local work.

    Parquet scans parallelize at ROW-GROUP granularity: a table written
    as one row group is one task no matter how many cores exist (the
    local sf0.1 files are exactly this). For CPU-bound per-row operators
    (MinHash/SimHash signatures, media decode) a pre-repartition costs a
    tiny shuffle and unlocks full parallelism — measured 2.7x on
    signature computation locally. At 100 TB inputs have thousands of
    row groups and this becomes a no-op (partitions >= target). A frame
    that shuffles is returned as is (AQE coalescing sets its count, and
    probing it via ``df.rdd`` runs the shuffle as an extra job).

    Not for cheap scans/aggregations — a shuffle before a map-side
    partial agg only adds cost (measured q1: 0.4s -> 0.8s).

    Streaming DataFrames pass through untouched: ``.rdd`` is illegal
    on a stream (AnalysisException), and micro-batch parallelism is
    the source's concern (maxFilesPerTrigger × file splits) — this
    keeps every spread-guarded operator (media decode, signatures)
    legal inside readStream → writeStream DAGs.
    """
    if df.isStreaming or plan_stats(df)["exchanges"]:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: a ``LogicalRDD`` over its rows, so later
    plans neither re-run nor re-plan the subtree. With a checkpoint dir
    (``setCheckpointDir`` or ``spark.checkpoint.dir``) it is a reliable
    ``checkpoint``, whose files outlive their executor (deleted only
    under ``spark.cleaner.referenceTracking.cleanCheckpoints``);
    otherwise a ``localCheckpoint``, whose blocks die with it.

    ``eager=False`` truncates lineage and plan size at once (under AQE
    the upstream shuffle stages even run now) but computes the final
    stage inside the first job that reads the cut; later reads reuse
    the stored rows. A reliable lazy cut adds a write job to that first
    read, which computes the rows again from the same shuffle outputs,
    so an order-sensitive subtree (a floating-point sum) may differ in
    low bits between that job and later reads.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def barrier(df: DataFrame, *more: DataFrame,
            probe: Callable[[DataFrame], Any] = DataFrame.count
            ) -> tuple:
    """Stats barrier: materialize ``df`` (and ``more``) once and return
    frames whose lineage AND size statistics are both reset to reality
    — the building block every iterative DataFrame loop needs, and the
    engine's only use of the Dataset cache. Returns
    ``(*cuts, probe_value)``, the cuts in argument order.

    Why not a plain ``lineage_cut``: its ``LogicalRDD`` keeps the
    *estimated* statistics of the plan it replaced (``originStats``).
    Catalyst's default size estimate for a join is the PRODUCT of its
    children's sizes, so in an iterative loop the per-round estimate
    compounds multiplicatively: with j self-joins per round the
    sizeInBytes digit count grows ~(j+1)ˣ per round, and by round ~6
    the optimizer is multiplying 10⁷-digit BigIntegers — planning time
    explodes from <1 s to minutes while the DATA is unchanged
    (observed: 1 s → 5.8 s → 109 s rounds on a 5 k-vertex graph).

    The barrier: persist → ``probe(df)`` (one materializing job; stats
    become the measured cache size) → eager ``lineage_cut`` of each
    frame (a cache read; lineage truncates and originStats carry the
    small, real number) → unpersist (the cut no longer reads the
    cache), so no cache outlives the call.
    ``more`` are frames ``df`` is built from: they are persisted first,
    so ``df``'s cached plan reads their caches and the one probe fills
    them all. ``probe`` defaults to the row count; any action on
    ``df`` whose result the caller needs (e.g. a convergence sum)
    doubles as the materializing job.
    """
    frames = (*more, df)
    for f in frames:
        f.persist()
    value = probe(df)
    cuts = [lineage_cut(f, eager=True) for f in (df, *more)]
    for f in frames:
        f.unpersist()
    return (*cuts, value)


def range_offsets(df: DataFrame, keys: str | Sequence[str],
                  weight: str | None = None) -> tuple[DataFrame, int]:
    """Two-pass partition offsets: the distributed half of a global
    sort plus a driver-side cumsum, so global row numbers and running
    sums need NO single-reducer window.

    ``df`` is range-repartitioned on ``keys`` and sorted within
    partitions; each row is tagged with its partition id ``_pid`` and
    its within-partition record number ``_idx``
    (``monotonically_increasing_id``'s documented low 33 bits). A lazy
    lineage cut freezes that layout, so both passes read identical
    partition contents. Pass 1 sums ``weight`` (or counts rows) per
    partition — a partitions-sized agg; the driver folds the sums into
    exclusive offsets (O(partitions) integers, empty partitions get
    the running total); pass 2 reads ``_off`` from that literal array
    by ``_pid`` — no join. Returns ``(tagged, total)``: ``_pid``,
    ``_idx``, ``_off`` added to ``df``'s columns, and the sum over all
    rows. An empty ``df`` gives an empty ``tagged`` and total 0.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    tagged = lineage_cut(
        df.repartitionByRange(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_idx", F.monotonically_increasing_id()
                    .bitwiseAND(F.lit((1 << 33) - 1))))
    size = F.sum(weight) if weight is not None else F.count("*")
    sums = dict(tagged.groupBy("_pid").agg(size).collect())
    offsets, total = [], 0
    for pid in range(max(sums, default=-1) + 1):
        offsets.append(total)
        total += sums.get(pid) or 0
    off = F.array(*map(F.lit, offsets)).cast("array<bigint>")[F.col("_pid")]
    return tagged.withColumn("_off", off), total


def payload_rows(df: DataFrame, fn: Callable[[Any, Any], Iterable[tuple]],
                 fields: str, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """Row-local payload boundary, the base layer of every per-payload
    operator: ``spread``, the ``[id_col, payload_col]`` select and one
    Arrow ``mapInPandas``, so one payload never crosses a partition
    boundary.

    ``fn(key, value)`` gets a row's ``id_col`` key and its
    ``payload_col`` value as Arrow delivers it (``bytes`` for a binary
    column, ``str`` for a string one) and returns the output rows for
    it, each a tuple of ``fields`` values (a DDL list such as
    ``"width int, crc bigint"``). The result has the columns
    ``[id_col long, *fields]``: one row per tuple, keyed by the key.
    Null payloads are dropped. An exception from ``fn`` propagates and
    fails the task; an operator that wants a row instead wraps ``fn``
    (:func:`extract_rows`, the media decoders' ``unsupported=`` rule).
    """
    out_schema = StructType([StructField(id_col, LongType()),
                             *DataType.fromDDL(fields).fields])
    names = out_schema.names

    def run(batches):
        import pandas as pd

        for batch in batches:
            rows = [(key, *r)
                    for key, value in zip(batch[id_col], batch[payload_col])
                    if value is not None for r in fn(key, value)]
            yield pd.DataFrame(rows, columns=names)

    return spread(df.select(id_col, payload_col)).mapInPandas(
        run, schema=out_schema)


def extract_rows(df: DataFrame, fn: Callable[[bytes], Iterable[tuple]],
                 fields: str, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """Row-local payload extraction, the boundary every
    ``extract_*_bytes`` operator shares: bad payloads become ``error``
    rows, never failed stages.

    ``fn(b)`` takes one payload as ``bytes`` and returns the output
    rows for it, each a tuple of ``fields`` values (a DDL list such as
    ``"text string, n_chars int"``). The result has the columns
    ``[id_col long, *fields, error string]``: one row per tuple ``fn``
    returns, keyed by the payload's ``id_col``, or, when ``fn`` raises,
    exactly one row with every field null. Its ``error`` is ``str(e)``
    for a ``ValueError`` (the extractors' contract for bad input) and
    ``"TypeName: message"`` for any other exception, both cut to 200
    characters. ``fn``'s rows are collected inside the ``try``, so a
    payload that fails midway leaves no partial rows. Null payloads
    are dropped.

    Two layers: :func:`payload_rows` is the boundary (``spread``, the
    batch loop, the null skip, the schema) and lets exceptions
    propagate; this function is ``payload_rows`` over ``fn`` wrapped in
    the error rule above, with an ``error`` field appended. The media
    decoders and ``python_source_facts`` use ``payload_rows`` directly.
    The binaryFile readers in ``meza_spark.io`` (warc, webdataset,
    avro, arrow_ipc) use neither: they fail the whole file by contract.
    """
    nulls = (None,) * len(DataType.fromDDL(fields).fields)

    def guarded(_key, payload):
        try:
            return [(*r, None) for r in fn(payload)]
        except ValueError as e:
            return [(*nulls, str(e)[:200])]
        except Exception as e:  # noqa: BLE001 — one hostile payload
            # must never fail a stage; an escape other than ValueError
            # is a decoder bug (the fuzz tests pin them), and this row
            # is the last line of defence
            return [(*nulls, f"{type(e).__name__}: {e}"[:200])]

    return payload_rows(df, guarded, f"{fields}, error string",
                        payload_col, id_col)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Plan text for assertions/audits — the ONE place that touches
    PySpark internals (``_jdf``/``PythonSQLUtils`` are not stable API
    and vanish under Spark Connect): every plan-pinning test and
    tools/plan_audit.py route through here, so an API change is a
    one-function fix. Falls back to capturing ``df.explain(mode)``
    stdout, which is supported on every execution backend."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
            df._jdf.queryExecution(), mode)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def plan_stats(df: DataFrame) -> dict:
    """Physical-plan audit counters — the numbers the plan-regression
    tests pin: shuffle exchanges, broadcasts, scans, Python boundaries,
    sort-merge joins. ``plan_stats(df)["python"] == 0`` is the
    'JVM-only hot path' assertion in one call."""
    p = explain_str(df, "simple")
    return {
        "exchanges": p.count("Exchange") - p.count("BroadcastExchange")
        - p.count("ReusedExchange"),
        "broadcasts": p.count("BroadcastExchange"),
        "reused_exchanges": p.count("ReusedExchange"),
        "scans": p.count("Scan "),
        "python": p.count("Python"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "broadcast_joins": p.count("BroadcastHashJoin")
        + p.count("BroadcastNestedLoopJoin"),
        "window_execs": p.count("Window"),
    }

