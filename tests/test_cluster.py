"""Connected components + near_dedup end-to-end (pairs → kept table)."""

import pytest
from pyspark.sql import functions as F

from meza_spark.llm.cluster import connected_components, near_dedup


def _pairs(spark, rows):
    return spark.createDataFrame(rows, ["id_a", "id_b"])


def test_cc_two_components(spark):
    # {1,2,3} via 1-2, 2-3 and {10,11}; 99 absent (no edges)
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_converges(spark):
    # a 40-deep path exercises pointer jumping past naive max_iter
    edges = [(i, i + 1) for i in range(40)]
    comp = connected_components(_pairs(spark, edges), max_iter=10)
    labels = {r["component"] for r in comp.collect()}
    assert labels == {0}


def test_cc_unordered_and_dup_edges(spark):
    comp = connected_components(
        _pairs(spark, [(5, 2), (2, 5), (2, 7), (7, 5)]))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {2: 2, 5: 2, 7: 2}


def test_cc_empty(spark):
    comp = connected_components(
        spark.createDataFrame([], "id_a long, id_b long"))
    assert comp.count() == 0
    assert comp.columns == ["id", "component"]


def test_cc_distributed_loop_matches_fast_path(spark):
    # the <=1M-edge driver fast path otherwise shadows the distributed
    # contraction loop at every test scale; forcing the threshold to 0
    # keeps the O(log D) loop (and its fused per-round barrier)
    # regression-covered on the same graphs
    graphs = [
        [(1, 2), (2, 3), (10, 11)],                 # two components
        [(i, i + 1) for i in range(40)],            # deep path (chase loop)
        [(5, 2), (2, 5), (2, 7), (7, 5)],           # dup/unordered edges
        [(i, j) for i in range(8) for j in range(i + 1, 8)],  # clique
    ]
    for edges in graphs:
        fast = {(r["id"], r["component"])
                for r in connected_components(_pairs(spark, edges)).collect()}
        dist = {(r["id"], r["component"])
                for r in connected_components(
                    _pairs(spark, edges),
                    small_quotient_threshold=0).collect()}
        assert fast == dist, edges


def test_cc_distributed_no_merge_early_exit(spark):
    # star graphs collapse in the init hop: the first quotient has no
    # cross-label edges, so the distributed path must return the init
    # labels directly (n_rounds == 0 -> no chase loop)
    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    got = {r["id"]: r["component"]
           for r in connected_components(
               _pairs(spark, edges), small_quotient_threshold=0).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 10: 10, 11: 10}


def test_near_dedup_ngram_keeps_min_representative(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a"),
        (2, "the quick brown fox jumps over the lazy cat", "a"),
        (3, "completely different text about spark engines here", "a"),
        (4, "the quick brown fox jumps over a lazy dog", "a"),
        (5, "unrelated document on connected components theory", "b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "blk"])
    kept = near_dedup(df, method="ngram", n=3, min_jaccard=0.3,
                      join_on="blk")
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 1,2,4 are one near-dup cluster → representative 1 survives
    assert ids == [1, 3, 5]
    assert kept.columns == df.columns


def test_near_dedup_minhash_identical_docs(spark):
    text = "spark first distributed dedup of training corpora at scale"
    rows = [(i, text) for i in range(4)] + [
        (9, "a totally distinct document with no overlap whatsoever")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = near_dedup(df, method="minhash", min_jaccard=0.5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 9]


def test_near_dedup_unknown_method(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        near_dedup(df, method="nope")


def test_cosine_join_matches_bruteforce(spark):
    from meza_spark.llm.similarity import cosine_join, cosine_sim
    from pyspark.sql import functions as F

    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    left = df.filter(F.col("vec_id") % 2 == 0)
    right = df.filter(F.col("vec_id") % 2 == 1)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_join(left, right, threshold=0.5,
                                block_on="label").collect()}
    l = left.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("va"),
                    F.col("label").alias("la"))
    r_ = right.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"),
                      F.col("label").alias("lb"))
    brute = (l.join(r_, F.col("la") == F.col("lb"))
             .select("id_a", "id_b",
                     F.round(cosine_sim(F.col("va"), F.col("vb")), 6)
                     .alias("c"))
             .where(F.col("c") >= 0.5))
    want = {(r["id_a"], r["id_b"]): r["c"] for r in brute.collect()}
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_normalize_embeddings_unit_norm(spark):
    from meza_spark.llm.similarity import normalize_embeddings
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["embedding"]
           for r in normalize_embeddings(df).collect()}
    assert abs(out[1][0] - 0.6) < 1e-12 and abs(out[1][1] - 0.8) < 1e-12
    assert out[2] == [0.0, 0.0]          # zero vector passes through
    assert out[3] == [1.0, 0.0]


def test_nearest_centroid_assigns_and_tiebreaks(spark):
    from meza_spark.llm.similarity import nearest_centroid

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, embedding array<double>")
    vecs = spark.createDataFrame(
        [(10, [2.0, 0.1]),     # → centroid 0
         (11, [0.1, 3.0]),     # → centroid 1
         (12, [1.0, 1.0])],    # exact tie → smaller centroid id 0
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["centroid_id"], r["cosine"])
           for r in nearest_centroid(vecs, cents).collect()}
    assert got[10][0] == 0 and got[11][0] == 1
    assert got[12][0] == 0 and abs(got[12][1] - 0.707107) < 1e-6


def test_nearest_centroid_plan_broadcast_no_big_shuffle(spark, sf_dir):
    from meza_spark.llm.similarity import nearest_centroid

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = (emb.where("vec_id < 8")
             .selectExpr("vec_id AS centroid_id", "embedding"))
    from meza_spark.util import explain_str

    plan = explain_str(nearest_centroid(emb, cents), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan      # assignment is pure JVM


def test_kmeans_clusters_covers_corpus(spark, sf_dir):
    from meza_spark.llm.similarity import kmeans_clusters

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans_clusters(emb, k=4, fit_sample=200).collect()
    assert len(out) == emb.count()            # every vector assigned
    assert {r["centroid_id"] for r in out} <= set(range(4))
    assert len({r["centroid_id"] for r in out}) >= 2  # non-degenerate
    # deterministic under fixed seed
    again = kmeans_clusters(emb, k=4, fit_sample=200).collect()
    assert {(r["vec_id"], r["centroid_id"]) for r in out} == \
           {(r["vec_id"], r["centroid_id"]) for r in again}


def test_cc_stale_pointer_resolution(spark):
    # path 1-2-3-4-5: after contraction a vertex can point at a
    # label-node that merged later; the resolution chase must still
    # land every vertex on the component min
    from meza_spark.llm.cluster import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_near_dedup_keep_best(spark):
    # two near-identical docs; keep='best' must keep the LONGER one
    # (min_id would keep doc 1)
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", 10),
        (2, "alpha beta gamma delta epsilon zeta eta theta", 20),
        (3, "completely different text entirely here", 5),
    ]
    from meza_spark.llm.cluster import near_dedup

    df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    kept = sorted(r["doc_id"] for r in
                  near_dedup(df, method="ngram", n=3, min_jaccard=0.3,
                             keep="best", score_col="n_chars").collect())
    assert kept == [2, 3]
    # and the default still keeps the id minimum
    kept_min = sorted(r["doc_id"] for r in
                      near_dedup(df, method="ngram", n=3,
                                 min_jaccard=0.3).collect())
    assert kept_min == [1, 3]


def test_embedding_ops_null_and_zero_vectors(spark):
    # null vectors are ignored by pair/fit ops; zero-norm cosine is 0.0
    import meza_spark.llm.similarity as sim

    rows = [(1, [1.0, 0.0], 0), (2, None, 0), (3, [0.0, 0.0], 0),
            (4, [1.0, 0.1], 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    pairs = sim.embedding_near_dupes(df, threshold=0.5,
                                     block_on="label").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 4)}
    got = {r["vec_id"]: r["cosine"] for r in sim.cosine_topk(
        df.where("embedding is not null"), [1.0, 0.0], k=3).collect()}
    assert got[3] == 0.0  # zero vector scores 0, does not raise (ANSI)


def test_near_dedup_incremental_cross_and_intra(spark):
    from meza_spark.llm.cluster import near_dedup_incremental

    seen = spark.createDataFrame([
        (100, "the quick brown fox jumps over the lazy dog", "a"),
        (101, "a completely different seen document right here", "a")],
        ["doc_id", "text", "blk"])
    new = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy cat", "a"),  # ~seen
        (2, "a fresh unique new document about spark engines", "a"),
        (3, "a fresh unique new document about spark motors", "a"),  # ~2
        (4, "nothing resembling anything else in any corpus", "a")],
        ["doc_id", "text", "blk"])
    kept = near_dedup_incremental(new, seen, method="ngram", n=3,
                                  min_jaccard=0.3, join_on="blk")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]
    # minhash path agrees on the same corpus
    kept2 = near_dedup_incremental(
        new.select("doc_id", "text"), seen.select("doc_id", "text"),
        method="minhash", min_jaccard=0.3)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [2, 4]
    # columns survive records-in/records-out
    assert kept.columns == new.columns


def _plain_union_find(edges):
    comp = {}
    for a, b in edges:
        ca, cb = comp.setdefault(a, {a}), comp.setdefault(b, {b})
        if ca is not cb:
            ca |= cb
            for v in cb:
                comp[v] = ca
    return {v: min(c) for v, c in comp.items()}


# 5 pairs whose first quotient has 4 directed edges (2-3, 3-4 both ways)
_FIVE = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)]


@pytest.mark.parametrize("edges,t,collected", [
    (_FIVE, 5, 5),        # len(pairs) == t: pair-level union-find
    (_FIVE, 4, 4),        # pairs > t, quotient <= t: quotient union-find
    (_FIVE, 0, None),     # t = 0: distributed loop, no union-find
    ([], 5, 0), ([], 4, 0), ([], 0, 0),  # empty pairs on every path
])
def test_cc_paths_match_plain_union_find(spark, monkeypatch, edges, t,
                                         collected):
    from meza_spark.llm import cluster

    seen = []
    real = cluster._union_find
    monkeypatch.setattr(cluster, "_union_find",
                        lambda e, *cols: seen.append(len(e)) or real(e, *cols))
    comp = connected_components(
        spark.createDataFrame(edges, "id_a long, id_b long"),
        small_quotient_threshold=t)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == _plain_union_find(edges)
    assert seen == ([] if collected is None else [collected])
