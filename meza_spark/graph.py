"""Distributed graph operators over edge DataFrames.

The training-data use case: link-graph centrality as a document-quality
prior (Common-Crawl-style pipelines rank hosts by PageRank/harmonic
centrality and use the score to weight or filter pages). The operators
here take a plain edge DataFrame ``(src, dst[, weight])`` — no graph
library, no RDDs — and run iterative DataFrame rounds exactly like
``llm.cluster.connected_components``: ids-only shuffles, one
materializing job per round, lineage cut per round so Catalyst plans
stay constant-size.

Reference parity note: the reference has no graph surface at all
(meza is tabular ETL, ref meza/process.py); this module is part of the
beyond-reference charter layer (SURVEY §2.10/§2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import lineage_cut

__all__ = ["degrees", "pagerank", "label_propagation"]


def degrees(edges: DataFrame, src: str = "src",
            dst: str = "dst") -> DataFrame:
    """Per-vertex in/out/total degree — the cheap graph feature set.
    One union + one agg; parallel edges count individually."""
    d = (edges.select(F.col(src).alias("v"), F.lit(1).alias("_o"),
                      F.lit(0).alias("_i"))
         .unionByName(edges.select(F.col(dst).alias("v"),
                                   F.lit(0).alias("_o"),
                                   F.lit(1).alias("_i"))))
    return (d.groupBy("v")
            .agg(F.sum("_o").alias("out_degree"),
                 F.sum("_i").alias("in_degree"),
                 F.count(F.lit(1)).alias("degree")))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str | None = None, n_iter: int = 10,
             damping: float = 0.85,
             round_digits: int = 12) -> DataFrame:
    """Weighted PageRank by power iteration over an edge DataFrame.
    Returns ``(v, pagerank)`` for every vertex appearing in ``edges``.

    Per iteration (the standard formulation, Page et al. 1999 —
    public; dangling mass redistributed uniformly):

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)·w(u,v)/outw(u) + D/N )

    where ``D = Σ r(u)`` over dangling vertices (no out-edges) and
    parallel edges are pre-aggregated into one weighted edge.

    Deterministic on any engine/partitioning: per-edge contributions
    are row-local IEEE doubles, every cross-row SUM accumulates in
    ``decimal(38,18)`` (exact, order-free), and each iteration's rank
    is rounded to ``round_digits`` — so a SQL oracle replaying the
    same unrolled iterations matches bit-for-bit.

    Scale shape: the static edge/out-weight frames are materialized
    once; each round is ONE shuffle (contributions aggregated on the
    destination key) plus a ``lineage_cut`` on the
    ranks (referenced twice per round: dangling aggregate +
    contributions). The dangling mass D rides as a broadcast ONE-ROW
    decimal aggregate joined lazily into the rank update — n_iter is
    fixed, so no per-round driver scalar exists (optimization r9,
    guide §5); the only driver round-trip is the single up-front
    count/any-dangling probe. Ranks ride every shuffle as
    ``(id, double)`` — 16 B/row regardless of document size.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = (edges.groupBy(F.col(src).alias("s"), F.col(dst).alias("d"))
         .agg(F.sum(w.cast("decimal(38,6)")).cast("double").alias("w")))
    e = lineage_cut(e)
    outw = e.groupBy("s").agg(
        F.sum(F.col("w").cast("decimal(38,6)")).cast("double")
        .alias("ow"))
    verts = (e.select(F.col("s").alias("v"))
             .unionByName(e.select(F.col("d").alias("v")))
             .distinct())
    # static dangling marker: no out-edges → rank mass has nowhere to
    # go; its redistribution is the per-round broadcast aggregate
    verts = (verts.join(outw.select(F.col("s").alias("v"),
                                    F.lit(False).alias("_dang")),
                        on="v", how="left")
             .select("v", F.coalesce("_dang", F.lit(True)).alias("_dang")))
    verts = lineage_cut(verts, eager=True)
    # one probe job for both static scalars (count + dangling-set
    # emptiness) off the checkpointed verts — optimization r9
    probe = verts.agg(F.count(F.lit(1)).alias("n"),
                      F.max("_dang").alias("any_dang")).collect()[0]
    n = probe["n"]
    if n == 0:
        return verts.select(F.col("v"),
                            F.lit(0.0).alias("pagerank")).limit(0)
    base = (1.0 - damping) / n
    ranks = verts.withColumn("r", F.lit(round(1.0 / n, round_digits)))

    dsum = F.sum(F.col("r").cast("decimal(38,18)")).cast("double")
    # dangling set is STATIC: when it's empty (checked once), D = 0
    # every round; when not, the round's dangling mass D rides as a
    # broadcast ONE-ROW aggregate of the checkpointed ranks instead of
    # a per-round driver collect (optimization r9, guide §5: the
    # driver needs no data work here — n_iter is fixed, there is no
    # convergence decision, so nothing requires a scalar on the
    # driver; D/N joins into the rank update lazily and the decimal
    # accumulation keeps it exact). The per-round cut stays: ranks are
    # referenced twice (D aggregate + contributions), and the cut keeps
    # Catalyst plans constant-size round over round.
    any_dangling = bool(probe["any_dang"])
    for _ in range(n_iter):
        cut = lineage_cut(ranks)
        contrib = (e.join(cut.select(F.col("v").alias("s"), "r"), on="s")
                   .join(outw, on="s")
                   .select("d", (F.col("r") * F.col("w") / F.col("ow"))
                           .alias("c")))
        agg = contrib.groupBy("d").agg(
            F.sum(F.col("c").cast("decimal(38,18)")).cast("double")
            .alias("cs"))
        ranks = verts.join(agg, verts["v"] == agg["d"], "left")
        if any_dangling:
            dang_df = (cut.where("_dang")
                       .agg(F.coalesce(dsum, F.lit(0.0)).alias("_D")))
            upd = (F.lit(base) + F.lit(damping)
                   * (F.coalesce("cs", F.lit(0.0)) + F.col("_D") / n))
            ranks = ranks.crossJoin(F.broadcast(dang_df))
        else:
            upd = (F.lit(base) + F.lit(damping)
                   * (F.coalesce("cs", F.lit(0.0)) + F.lit(0.0) / n))
        ranks = ranks.select("v", "_dang",
                             F.round(upd, round_digits).alias("r"))
    return ranks.select("v", F.col("r").alias("pagerank"))


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", n_iter: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every vertex starts labeled with its own id, and each
    round adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label — no randomness, so a fixed
    ``n_iter`` makes the result deterministic on any engine and any
    partitioning (the asynchronous/randomized variants converge faster
    but cannot be oracle-gated). Returns ``(v, community)``.

    The graph is treated as undirected (edges mirrored, parallel edges
    collapse). Per round: one neighbor join + one (v, label) count agg
    + one min(struct(-count, label)) pick — ids-only shuffles, 16 B
    rows. Unlike ``pagerank`` (which needs a scalar per round anyway)
    no round REQUIRES a materialization, so rounds pipeline into one
    job and the lineage — linear in rounds, join+2 aggs each — is cut
    only every 4th round (measured at sf0.1: an unconditional
    per-round cut made the 3-round gate 6× slower). Synchronous LPA can
    oscillate on bipartite structures; the fixed round budget bounds
    that by construction (communities are a heuristic label, not a
    fixpoint claim).

    Two per-round shuffles were removed in optimization r9 (fourth
    pass, guide §2.4):

    - the edge list is hash-repartitioned on the join key ``b`` ONCE
      before its lineage cut — partitioning on ``b`` co-locates the
      (a, b) duplicate groups too, so the ``distinct`` reuses that
      single exchange and the checkpointed frame enters every round's
      neighbor join already distributed (previously each round
      re-shuffled the full edge list). A hot vertex concentrates its
      rows in one ``b`` partition — the same concentration the
      per-round join on ``b`` always had, and the distinct partial-
      aggregates map-side first, so no new skew class is introduced;
    - the per-round join-back of the best label onto the previous
      labels was REDUNDANT and is gone: edges are mirrored, so every
      vertex (= every distinct ``a``) has at least one neighbor, every
      neighbor's vertex is present in the current label map (label
      vertex sets are invariant round over round), and therefore the
      best-label aggregation already covers every vertex — the old
      ``coalesce(bl, l)`` could never see a NULL.
    """
    und = lineage_cut(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"),
                                  F.col(src).alias("b")))
        .where(F.col("a") != F.col("b")).repartition("b").distinct())
    labels = (und.select(F.col("a").alias("v")).distinct()
              .withColumn("l", F.col("v")))
    for i in range(n_iter):
        if i == 0:
            # Round-1 algebraic fold (optimization r9, guide §2.4 —
            # remove shuffles outright): with pristine labels l = v,
            # every neighbor's label is the neighbor id itself, and
            # ``und`` is distinct, so each candidate label has count
            # exactly 1 — the most-frequent-with-smallest-tie-break
            # pick degenerates to min(neighbor). Same result as the
            # generic round, minus a join and an aggregation (the
            # per-round 6-exchange pipeline becomes 2).
            labels = und.groupBy(F.col("a").alias("v")) \
                        .agg(F.min("b").alias("l"))
            continue
        cut = lineage_cut(labels) if i % 4 == 0 else labels
        counts = (und.join(cut.select(F.col("v").alias("b"),
                                      F.col("l").alias("nl")), on="b")
                  .groupBy(F.col("a").alias("v"), "nl")
                  .agg(F.count(F.lit(1)).alias("c")))
        labels = (counts.groupBy("v")
                  .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                      F.col("nl").alias("nl"))).alias("m"))
                  .select("v", F.col("m.nl").alias("l")))
    return labels.select("v", F.col("l").alias("community"))
