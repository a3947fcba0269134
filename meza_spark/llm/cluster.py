"""Pairs → clusters → kept table: the last mile of near-dup dedup.

The reference frames dedupe as records-in/records-out
(ref: meza/process.py:851-898 ``unique``); the MinHash/SimHash/
embedding operators in this package emit candidate *pairs*. This module
closes the gap: distributed connected components over the pair edge
list, then keep one representative (min id) per duplicate cluster —
the operator a training-data pipeline actually calls.

Scale design: edges carry ids only (16 B/row through every shuffle);
each round is one join + one aggregation; lineage is truncated per
round (iterative DataFrame plans otherwise grow without bound); the
driver collects at most ``small_quotient_threshold + 1`` id pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import barrier, lineage_cut, spread

__all__ = ["connected_components", "near_dedup",
           "near_dedup_incremental", "semantic_dedup"]


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 30,
                         small_quotient_threshold: int = 1_000_000
                         ) -> DataFrame:
    """Label each vertex of the pair graph with the min vertex id of
    its connected component. Returns ``(id, component)``.

    ``small_quotient_threshold`` (``t``) bounds the edges the driver
    collects: each path choice reads the length of one
    ``limit(t + 1).toPandas()``, whose rows feed the union-find. At
    most ``t`` pairs: union-find on the driver, no distributed hop.
    Else a first quotient (after the init hop) of at most ``t``
    directed edges: union-find plus one broadcast-join re-point. Else,
    and for any graph when ``t = 0``: the distributed loop.

    Distributed algorithm: min-label propagation with EDGE CONTRACTION
    over the quotient graph (the MapReduce-CC family of Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public).
    Per round:

      1. every label-node takes the min label among its quotient-graph
         neighbors (one join + one agg over the CONTRACTED edge set);
      2. vertex labels re-point through that map;
      3. the contracted edges re-label on both endpoints and drop
         self-loops — adjacent clusters merge, so each round's hop
         composes with all previous merges (reach doubles, rounds are
         O(log diameter), NOT O(diameter) like plain propagation —
         measured: 10 rounds → 5 on the sf0.1 ngram pair graph);
      4. terminate when no cross-label edge remains.

    The scale win over propagate-only: the per-round join runs on the
    SHRINKING quotient edge set, not the full O(E) edge list — after
    the first round near-clique duplicate clusters have collapsed to
    single nodes and later rounds touch a tiny fraction of E. Shuffles
    carry ids only (16 B/row). Each round is cut with ONE stats
    barrier over both new frames (a single materializing count on the
    edges fills the labels cache too) so lineage and Catalyst's size
    estimates reset to measured reality at one count job per round
    (see :func:`meza_spark.util.barrier` for the BigInteger planning
    blowup this prevents).
    """
    t, spark = small_quotient_threshold, pairs.sparkSession
    # one lazy cut: the pair subtree runs once, whichever path reads it
    raw = lineage_cut(pairs.select(F.col(id_a).cast("long").alias("s"),
                                   F.col(id_b).cast("long").alias("d")))
    pdf = raw.limit(t + 1).toPandas()
    if len(pdf) <= t:
        # an empty pandas frame would leave Arrow for an RDD of unknown
        # size; limit(0) plans as an empty local relation instead
        roots = _union_find(pdf, "id", "component")
        return (spark.createDataFrame(roots) if len(roots)
                else raw.toDF("id", "component").limit(0))
    # symmetrize: explode each pair of the cut into both directions
    edges = lineage_cut(raw.select(F.explode(F.array(
        F.struct("s", "d"),
        F.struct(F.col("d").alias("s"), F.col("s").alias("d")))).alias("e"))
        .select("e.s", "e.d").distinct())
    # init folds the first propagation in: label₀(v) = min(v, min
    # neighbor) — the groupBy doubles as the distinct-vertices pass
    # (every vertex appears as `s` in the symmetrized edge list), and
    # near-clique duplicate clusters converge on the very next round
    labels = lineage_cut(edges.groupBy("s").agg(F.min("d").alias("_nd"))
                         .select(F.col("s").alias("v"),
                                 F.least("s", "_nd").alias("label")))
    out_cols = [F.col("v").alias("id"), F.col("label").alias("component")]
    # contracted (quotient) edge set: current labels of each endpoint
    lmap = lambda side: labels.select(  # noqa: E731
        F.col("v").alias(side), F.col("label").alias(f"_n{side}"))
    ce = lineage_cut(edges.join(lmap("s"), on="s").join(lmap("d"), on="d")
                     .select(F.col("_ns").alias("s"), F.col("_nd").alias("d"))
                     .where(F.col("s") != F.col("d")).distinct())
    # the first quotient's cut: the bounded collect reads it once, the
    # loop re-references it without recomputing the init hop
    qdf = ce.limit(t + 1).toPandas()
    n_ce = len(qdf)
    if n_ce == 0:
        # no cross-label edge: the init labels are the fixpoint (a
        # vertex with label(label(v)) < label(v) would leave one)
        return labels.select(*out_cols)
    if n_ce <= t:
        # every vertex label points at a quotient NODE (one init hop,
        # no stale chains yet) and the union-find map covers every
        # quotient node, so one re-point reaches the final roots
        rmap = spark.createDataFrame(_union_find(qdf, "label", "_root"))
        return (labels.join(F.broadcast(rmap), on="label", how="left")
                .select(F.col("v").alias("id"),
                        F.coalesce("_root", "label").alias("component")))
    for _ in range(max_iter):
        # 1) min neighbor label per label-node on the quotient graph
        m = ce.groupBy("s").agg(F.min("d").alias("nl"))
        # 2) vertex labels re-point: label := min(label, m[label])
        labels = (labels.join(m.select(F.col("s").alias("label"), "nl"),
                              on="label", how="left")
                  .select("v", F.least(
                      "label", F.coalesce("nl", "label")).alias("label")))
        # 3) contract: re-label both endpoints through the updated
        # vertex map (label-nodes are vertices, so the map covers
        # them), drop the now-internal edges, dedupe
        ce = (ce.join(lmap("s"), on="s").join(lmap("d"), on="d")
              .select(F.col("_ns").alias("s"), F.col("_nd").alias("d"))
              .where(F.col("s") != F.col("d")).distinct())
        ce, labels, n_ce = barrier(ce, labels)
        if n_ce == 0:  # quotient has no edges → fully merged
            break
    # resolution: contraction leaves a union-find FOREST — a vertex may
    # point at a label-node that itself merged later. Chase
    # label(v) ← label(label(v)) to the fixpoint; fixpoints are exactly
    # the component minima (any non-min x that merged has
    # label(x) < x), and forest depth ≤ contraction rounds, so this
    # needs ~log(log D) doubling chases. Convergence via the monotone
    # sum(label) invariant: labels only decrease, equal sum = fixpoint.
    _sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    prev = _sum(labels)
    for _ in range(max_iter):
        chased = (labels.join(
            labels.select(F.col("v").alias("_x"),
                          F.col("label").alias("_lx")),
            labels["label"] == F.col("_x"), "left")
            .select("v", F.coalesce("_lx", "label").alias("label")))
        labels, cur = barrier(chased, probe=_sum)
        if cur == prev:
            break
        prev = cur
    return labels.select(*out_cols)


def _union_find(edges: pd.DataFrame, v: str, root: str) -> pd.DataFrame:
    """Driver-side union-find over the ``(s, d)`` rows of ``edges``: one
    row per vertex ``v``, with ``root`` its component's min vertex."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(edges["s"].tolist(), edges["d"].tolist()):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({v: list(parent), root: [find(x) for x in parent]},
                        dtype="int64")


def near_dedup(df: DataFrame, method: str = "minhash",
               text_col: str = "text", id_col: str = "doc_id",
               max_iter: int = 30, keep: str = "min_id",
               score_col: str | None = None, **kwargs) -> DataFrame:
    """End-to-end near-duplicate removal: records in, records out
    (the reference's ``unique`` contract, ref meza/process.py:851-898,
    lifted to fuzzy matching).

    Pipeline: candidate pairs by ``method`` → connected components →
    keep the min-``id_col`` representative of each duplicate cluster
    (unique rows pass through untouched).

    Methods and their extra kwargs:
      - ``'minhash'``  → :func:`~meza_spark.llm.dedup.minhash_lsh_pairs`
        (``num_hashes``, ``bands``, ``shingle_n``, ``min_jaccard``)
      - ``'simhash'``  → :func:`~meza_spark.llm.dedup.simhash_pairs`
        (``max_hamming``)
      - ``'ngram'``    → :func:`~meza_spark.llm.dedup.ngram_jaccard`
        (``n``, ``min_jaccard``, ``join_on``) — exact within blocks,
        fully deterministic: the oracle-testable variant
      - ``'span'``     → :func:`~meza_spark.llm.dedup.
        ngram_span_pairs` (``n``, ``max_bucket``) — verbatim n-token
        span sharing; exact and deterministic (Lee-et-al-style
        substring dedup end-to-end)
      - ``'embedding'`` → :func:`~meza_spark.llm.similarity.
        embedding_near_dupes` (``vec_col``, ``threshold``,
        ``n_planes``, ``block_on``)

    The final keep is a left-anti join of ``df`` against the (small)
    set of non-representative duplicate ids — broadcastable whenever
    the duplicate fraction is, which is the common case.

    ``keep='min_id'`` (default) keeps the min-``id_col`` member of
    each cluster. ``keep='best'`` keeps the member with the highest
    ``score_col`` (ties → min id) — the quality-aware winner a
    training pipeline wants (keep the longest / highest-quality copy,
    not the accidental id minimum). Winner selection runs only over
    cluster MEMBERS (the duplicate subset), as a per-component
    window — never a corpus-wide sort.
    """
    from .dedup import minhash_lsh_pairs, ngram_jaccard, simhash_pairs
    from .similarity import embedding_near_dupes

    if method == "minhash":
        pairs = minhash_lsh_pairs(df, text_col=text_col, id_col=id_col,
                                  **kwargs)
    elif method == "simhash":
        pairs = simhash_pairs(df, text_col=text_col, id_col=id_col,
                              **kwargs)
    elif method == "ngram":
        pairs = ngram_jaccard(df, text_col=text_col, id_col=id_col,
                              **kwargs)
    elif method == "span":
        from .dedup import ngram_span_pairs

        pairs = ngram_span_pairs(df, text_col=text_col, id_col=id_col,
                                 **kwargs)
    elif method == "embedding":
        pairs = embedding_near_dupes(df, id_col=id_col, **kwargs)
    else:
        raise ValueError(f"near_dedup: unknown method {method!r}")

    comp = connected_components(pairs.select("id_a", "id_b"),
                                max_iter=max_iter)
    if keep == "min_id":
        drop = comp.where(F.col("component") != F.col("id")) \
                   .select(F.col("id").alias(id_col))
    elif keep == "best":
        if score_col is None:
            raise ValueError("keep='best' requires score_col")
        members = comp.join(
            df.select(F.col(id_col).alias("id"), score_col), on="id")
        from pyspark.sql import Window

        w = Window.partitionBy("component").orderBy(
            F.col(score_col).desc(), F.col("id").asc())
        drop = (members.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") > 1)
                .select(F.col("id").alias(id_col)))
    else:
        raise ValueError(f"near_dedup: unknown keep {keep!r}")
    return df.join(drop, on=id_col, how="left_anti")


def near_dedup_incremental(new: DataFrame, seen: DataFrame,
                           method: str = "ngram",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           max_iter: int = 30,
                           **kwargs) -> DataFrame:
    """Incremental NEAR-duplicate dedup: keep the rows of ``new`` that
    are fuzzy-duplicates of neither the ``seen`` corpus nor an
    earlier-id row of the same batch — the daily-crawl-vs-historical-
    index operator (the fuzzy sibling of the bloom-gated EXACT
    ``bloom.dedup_against``).

    Two candidate passes share one pair machinery:
      1. cross-corpus: ``new`` × ``seen`` pairs by ``method`` —
         any hit drops the new row (the seen copy always wins);
      2. intra-batch: ``near_dedup`` over the survivors, so a burst of
         near-identical fresh documents still collapses to one.

    ``method='ngram'`` (exact within blocks via ``join_on=...``) is
    fully deterministic/oracle-testable; ``'minhash'`` scales the
    cross join through LSH band buckets (build the seen side's bands
    ONCE per corpus rebuild and persist them in production).

    Scale shape: the cross-corpus probe shuffles candidate IDS only
    (both methods block/bucket before pairing); the drop set is the
    small side of a left-anti join; no seen-corpus rewrite.
    """
    if method == "ngram":
        # staged form: shingle each frame ONCE (the tokenize+shingle
        # regex pass is the CPU hot spot), materialize the new side,
        # and reuse it for BOTH the cross-corpus probe and the
        # intra-batch self-join — the naive composition
        # (ngram_jaccard(new, seen) then near_dedup(fresh)) would
        # re-tokenize `new` a second time (measured ~35% of the
        # query's wall time at sf0.1)
        from .dedup import _ngram_pairs, _ngram_side

        n = kwargs.get("n", 3)
        min_jaccard = kwargs.get("min_jaccard", 0.0)
        join_on = kwargs.get("join_on")
        sh_new = lineage_cut(_ngram_side(spread(new), text_col, id_col,
                                         "id_a", n, join_on))
        sh_seen = _ngram_side(spread(seen), text_col, id_col, "id_b",
                              n, join_on)
        hits = _ngram_pairs(sh_new, sh_seen, self_join=False,
                            min_jaccard=min_jaccard, join_on=join_on)
        dup_new = lineage_cut(hits.select(F.col("id_a").alias(id_col))
                              .distinct())
        sh_fresh = sh_new.join(
            dup_new.select(F.col(id_col).alias("id_a")),
            on="id_a", how="left_anti")
        intra = _ngram_pairs(sh_fresh, sh_fresh, self_join=True,
                             min_jaccard=min_jaccard, join_on=join_on)
        comp = connected_components(intra.select("id_a", "id_b"),
                                    max_iter=max_iter)
        drop_intra = (comp.where(F.col("component") != F.col("id"))
                      .select(F.col("id").alias(id_col)))
        drop = dup_new.unionByName(drop_intra)
        return new.join(drop, on=id_col, how="left_anti")
    elif method == "minhash":
        from .dedup import minhash_lsh_pairs

        # tag the sides so one self-join over the union yields only
        # cross pairs: new ids are even, seen ids odd (bit-tag)
        tag_new = new.select((F.col(id_col) * 2).alias(id_col), text_col)
        tag_seen = seen.select((F.col(id_col) * 2 + 1).alias(id_col),
                               text_col)
        both = tag_new.unionByName(tag_seen)
        pairs = minhash_lsh_pairs(both, text_col=text_col,
                                  id_col=id_col, **kwargs)
        hits = (pairs.where((F.col("id_a") % 2) != (F.col("id_b") % 2))
                .select(F.when(F.col("id_a") % 2 == 0, F.col("id_a"))
                        .otherwise(F.col("id_b")).alias("id_a")))
        hits = hits.select((F.col("id_a") / 2).cast("long").alias("id_a"))
    else:
        raise ValueError(f"near_dedup_incremental: unknown method "
                         f"{method!r}")
    # pairs are (id_a from new, id_b from seen) for ngram's two-frame
    # form; either side of a hit drops the NEW row
    dup_new = hits.select(F.col("id_a").alias(id_col)).distinct()
    fresh = new.join(dup_new, on=id_col, how="left_anti")
    return near_dedup(fresh, method=method, text_col=text_col,
                      id_col=id_col, max_iter=max_iter, **kwargs)


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k_clusters: int = 16,
                   threshold: float = 0.95, seed: int = 42,
                   fit_sample: int = 100_000,
                   max_iter: int = 30) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public): k-means the embedding space into
    ``k_clusters`` cells, find cosine-≥-threshold pairs WITHIN each
    cell only, and keep one representative (min id) per duplicate
    group. Records in, records out.

    Scale shape — each stage is one already-scale-audited operator:
      1. codebook fit on a bounded sample (``_fit_kmeans`` →
         ``limit(fit_sample)``, no full scan);
      2. assignment = row-local literal-array argmax
         (``_argmax_assign``) computed INLINE on the corpus scan — no
         corpus shuffle, and no join-back of vectors by id (the
         previous ``kmeans_clusters`` + id-join composition shuffled
         the full embedding payload twice before pairing;
         optimization r9 fourth pass, guide §8: the vectors now move
         exactly once, on the cell key);
      3. candidate pairs shuffle on the cell id and carry ids only
         (``embedding_near_dupes(block_on=...)``), so the quadratic
         term is bounded by cell size — pick ``k_clusters`` ≈ n/10⁴
         at scale;
      4. pair → cluster → keep via edge-contraction connected
         components (ids only).

    Within-cell pruning is exact; cross-cell near-dupes are missed by
    design (the paper's trade). Approximate-by-nature (centroids), so
    rows-only at oracle time; deterministic for a fixed seed.
    """
    from .similarity import _argmax_assign, _fit_kmeans, \
        embedding_near_dupes

    cents_np = _fit_kmeans(df, vec_col, k_clusters, seed, fit_sample,
                           id_col=id_col)
    cid, _ = _argmax_assign(cents_np, vec_col)
    work = df.select(id_col, vec_col, cid.alias("centroid_id"))
    pairs = embedding_near_dupes(work, vec_col=vec_col, id_col=id_col,
                                 threshold=threshold,
                                 block_on="centroid_id")
    comp = connected_components(pairs.select("id_a", "id_b"),
                                max_iter=max_iter)
    drop = comp.where(F.col("component") != F.col("id")) \
               .select(F.col("id").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")
