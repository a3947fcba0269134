"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):
  - exact dedup: hash-shuffle on a 128-bit digest of the text, never on
    the text itself (shuffle bytes ∝ 32B/row, not document size).
  - MinHash signatures: tokenize/hash JVM-side, the permutation
    min-fold as an Arrow-batched numpy kernel (Spark's higher-order
    array functions are interpreted, not codegen'd — numpy is the fast
    path for dense per-row math). Zero shuffle. LSH banding explodes
    only ``bands`` rows per doc (small ints), and the candidate join
    runs on band-hash buckets, so comparison cost is O(collisions),
    not O(n²).
  - SimHash: row-local 64-bit signature; near-dup candidates via
    banding the signature into 4×16-bit chunks (Hamming ≤ 3 guarantee
    by pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import lineage_cut, spread
from .text import shingles_from_tokens, tokens

__all__ = ["exact_dedup", "dedup_lines", "minhash_signatures",
           "minhash_lsh_pairs", "ngram_jaccard", "ngram_containment",
           "ngram_span_pairs",
           "remove_duplicate_spans", "simhash", "simhash_pairs"]


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = False) -> DataFrame:
    """Exact deduplication: keep the row with the smallest ``id_col``
    per distinct text (deterministic winner).

    Implemented as min-struct aggregation over ``md5(text)`` — one hash
    shuffle whose key is a fixed-width digest. ``normalize=True`` keys
    on the casefolded/punct-collapsed form instead (fingerprint dedupe).
    """
    t = F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]+", " ")) \
        if normalize else F.col(text_col)
    key = F.md5(t).alias("_k")
    other = [c for c in df.columns]
    packed = df.select(key, F.struct(F.col(id_col), *[
        F.col(c) for c in other if c != id_col]).alias("_row"))
    kept = packed.groupBy("_k").agg(F.min("_row").alias("_row"))
    return kept.select([F.col(f"_row.{c}").alias(c) for c in other])


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_count: int = 2,
                normalize: bool = True) -> DataFrame:
    """Corpus-level duplicate-LINE removal (the CCNet/RefinedWeb
    boilerplate scrub): drop every line whose normalized form occurs
    ``min_count``+ times ACROSS THE WHOLE CORPUS, keep document
    structure otherwise intact. Headers, nav bars and cookie banners
    repeat across pages; prose doesn't.

    The reference's closest op is record-level ``unique``
    (ref: meza/process.py:851-898); this is its sub-record analog for
    training pipelines.

    Scale shape: two shuffles, both on fixed-width keys —
      1. line-frequency: explode lines, count by 64-bit ``xxhash64``
         of the normalized line (never shuffles line text);
      2. reassembly: collect surviving (idx, line) per doc and rebuild
         with ``array_sort`` + ``concat_ws`` — grouped by the doc key.
    Empty/blank lines are structural, not boilerplate: they are never
    counted and never dropped.
    """
    other = [c for c in df.columns if c != text_col]
    lines = df.select(
        *other, F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("_idx", "_line"))
    norm = F.lower(F.trim(F.col("_line"))) if normalize \
        else F.col("_line")
    lines = lines.withColumn("_h", F.xxhash64(norm))
    freq = (lines.filter(F.trim(F.col("_line")) != "")
            .groupBy("_h").agg(F.count("*").alias("_cnt"))
            .filter(F.col("_cnt") >= min_count)
            .select("_h"))
    # blank lines never enter freq, so the anti-join keeps them; docs
    # whose every line is boilerplate drop out entirely (pure-nav pages)
    kept = lines.join(freq, on="_h", how="left_anti")
    rebuilt = (kept.groupBy(*other)
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("_idx"), F.col("_line")))).alias("_parts")))
    return rebuilt.select(
        *other,
        F.concat_ws("\n", F.transform(
            F.col("_parts"), lambda p: p["_line"])).alias(text_col))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_hashes: int = 64, shingle_n: int = 3,
                       keep_shingles: bool = False) -> DataFrame:
    """Append ``minhash: array<bigint>`` of length ``num_hashes``.

    Permutation h_i is simulated as ``h_i(x) = a_i·x + b_i mod 2^31-1``
    over a single base ``xxhash64(shingle)`` — the standard
    tabulation-free MinHash family. The shingle set and base hashes are
    materialized as intermediate columns so they are computed ONCE per
    row (a naive nested-lambda formulation re-evaluates the tokenizer
    per hash function — 64× the work). Row-local throughout: no
    explode, no shuffle; the min-fold itself is Arrow/numpy (see
    comment below).
    """
    base = _shingle_hashes(df, text_col, shingle_n)
    out = _minhash_from_hashes(base, num_hashes)
    return out if keep_shingles else out.drop("_sh")


def _shingle_hashes(df: DataFrame, text_col: str, shingle_n: int) -> DataFrame:
    """JVM-side tokenize → shingle (``_sh``) → folded base hashes
    (``_hs`` in [0, 2^31) so a·h + b stays inside signed-64)."""
    base = spread(df).withColumn("_toks", tokens(F.lower(F.col(text_col))))
    base = base.withColumn(
        "_sh", shingles_from_tokens(F.col("_toks"), n=shingle_n)).drop("_toks")
    return base.withColumn(
        "_hs", F.transform("_sh",
                           lambda s: F.pmod(F.xxhash64(s), F.lit((1 << 31) - 1))))


def _minhash_from_hashes(base: DataFrame, num_hashes: int) -> DataFrame:
    """The permutation min-fold as an Arrow-batched numpy kernel:
    Spark's higher-order array functions are INTERPRETED (no codegen),
    so 64 × array_min(transform(...)) was the measured hot spot; the
    numpy matrix form ((a·h + b) mod P, min over shingles) is bit-
    identical (numpy int64 % is floored like pmod; products stay
    < 2^62). Tokenize/xxhash64 stay JVM-side. Callers control the Arrow
    payload: every column of ``base`` except ``_hs`` passes through.

    Modulus is 2^31-1 (same Mersenne prime the base hashes fold into):
    with a, b, h all < 2^31 the product a·h wraps the modulus ~2^31
    times, giving real permutation mixing. (The earlier 2^61-1 modulus
    was a correctness bug: a·h + b < 2·P wraps AT MOST ONCE, so the
    "permutation" stayed nearly order-preserving in h — the min was
    dominated by the smallest raw hashes, collapsing band agreement for
    genuinely similar pairs. Observed: a J=0.93 pair with 4/64 signature
    agreement where ~59/64 is expected; recall vs the exact-Jaccard
    oracle was <1.)"""
    import numpy as np

    _P = (1 << 31) - 1  # Mersenne prime; folded base hashes live in [0, P)
    coeffs = _perm_coeffs(num_hashes)
    ca = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    cb = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    def run(batches):
        for pdf in batches:
            sigs = []
            for hs in pdf["_hs"]:
                if hs is None:  # null-array row: same as empty text
                    hs = []
                h = np.asarray(hs, dtype=np.int64)
                if h.size == 0:
                    sigs.append([int(_P)] * num_hashes)
                    continue
                vals = (ca * h[None, :] + cb) % _P
                sigs.append(vals.min(axis=1).tolist())
            out_pdf = pdf.drop(columns=["_hs"])
            out_pdf["minhash"] = sigs
            yield out_pdf

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    in_schema = [f for f in base.schema.fields if f.name != "_hs"]
    out_schema = StructType(in_schema + [StructField("minhash",
                                                     ArrayType(LongType()))])
    return base.mapInPandas(run, schema=out_schema)


def _perm_coeffs(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations.

    Drawn from a splitmix-style LCG; `a` nonzero mod P. Coefficients
    live in [0, P) with P = 2^31-1, the same prime modulus the kernel
    reduces by — so a·h + b < 2^62 (no int64 overflow) AND the product
    wraps P many times (real mixing; see _minhash_from_hashes)."""
    P = (1 << 31) - 1
    out = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) % P or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 33) % P
        out.append((a, b))
    return out


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      min_jaccard: float | None = 0.5,
                      max_bucket: int | None = 1000) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs, optionally verified.

    Pipeline: signature (row-local) → explode ``bands`` band-hashes →
    skip oversized buckets → self-join on (band, band_hash) buckets →
    distinct (a,b) pairs with a < b → optional exact Jaccard
    verification on the shingle sets of the surviving pairs only.

    Returns columns ``id_a, id_b`` (+ ``jaccard`` when verified).

    Scale: the shuffle key is (band, 64-bit hash); bucket sizes are the
    only quadratic term. ``max_bucket`` bounds it: buckets larger than
    the cap (boilerplate-heavy corpora collapse thousands of docs into
    one band bucket → O(bucket²) pair explosion) are dropped BEFORE the
    self-join. A pair sharing any other, sane-sized band bucket still
    surfaces; pairs found only via a mega-bucket are near-identical
    boilerplate a pipeline handles better with ``exact_dedup``
    (normalize=True) anyway. The dropped (band, bh) keys are exposed on
    the result as ``result._dropped_buckets`` (lazy DataFrame; count it
    to report). ``max_bucket=None`` disables the cap.
    """
    rows = num_hashes // bands
    # The signature kernel is an Arrow exchange — send ONLY (id, _hs)
    # through it (text/shingle strings are the heavy columns; at scale
    # the transfer is the cost). Shingles for the verification step are
    # re-derived JVM-side on a separate, Catalyst-pruned branch.
    hashed = _shingle_hashes(df.select(id_col, text_col), text_col, shingle_n)
    sigged = _minhash_from_hashes(
        hashed.select(F.col(id_col).alias("_id"), "_hs"), num_hashes)

    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(
                ",", F.slice("minhash", b * rows + 1, rows)))
            .alias("bh")))
    # candidates carry IDS ONLY through the band explode+self-join: the
    # heavy shingle arrays would otherwise be duplicated `bands`× into
    # the shuffle — at scale that IS the job cost. Shingles re-attach to
    # the (small) surviving candidate set afterwards.
    banded = sigged.select("_id", F.explode(band_arr).alias("b")) \
        .select("_id", "b.band", "b.bh")

    banded, dropped = _cap_buckets(banded, ["band", "bh"], max_bucket)
    # Materialize the capped band index before the self-join
    # (optimization r9 fourth pass, guide §2.4/§5): _cap_buckets was
    # designed so the two join legs share one exchange, but when the
    # banded side's size estimate is broadcastable the planner picks
    # BroadcastHashJoin — whose legs share NOTHING — and the Arrow
    # signature kernel + window run TWICE (observed in the sf0.1
    # plan). The band index is (id, band, hash) ≈ 24 B/row — tiny
    # against the text it summarizes — so cutting lineage here makes
    # kernel-once hold under EVERY join strategy, local or 100 TB.
    # ``dropped`` stays lazy off the original subtree: callers that
    # never evaluate it (the common case) pay nothing.
    banded = lineage_cut(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (left.join(right, on=["band", "bh"])
             .where(F.col("l._id") < F.col("r._id"))
             .select(F.col("l._id").alias("id_a"),
                     F.col("r._id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))

    if min_jaccard is None:
        out = pairs.select("id_a", "id_b")
        out._dropped_buckets = dropped
        return out
    sh = hashed.select(F.col(id_col).alias("_id"), "_sh")
    pairs = (pairs
             .join(sh.select(F.col("_id").alias("id_a"),
                             F.col("_sh").alias("sh_a")), on="id_a")
             .join(sh.select(F.col("_id").alias("id_b"),
                             F.col("_sh").alias("sh_b")), on="id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    out = (pairs.withColumn("jaccard", jac)
           .where(F.col("jaccard") >= min_jaccard)
           .select("id_a", "id_b", "jaccard"))
    out._dropped_buckets = dropped
    return out


def _cap_buckets(banded: DataFrame, keys: list[str],
                 max_bucket: int | None):
    """Drop LSH buckets larger than ``max_bucket`` before a self-join.

    The size check is a COUNT window over the bucket key — it hash-
    partitions on exactly the key the subsequent self-join shuffles
    on, so Catalyst plans one exchange (reused across both join
    branches) and the signature kernel below it still executes once.
    (A separate groupBy-count branch would defeat exchange reuse and
    re-run the expensive Arrow signature kernel per branch.)

    Returns (capped, dropped-keys df | None); the dropped-bucket frame
    is an independent lazy branch, costed only if the caller evaluates
    it.
    """
    if max_bucket is None:
        return banded, None
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    capped = (banded.withColumn("_bsz", F.count("*").over(w))
              .where(F.col("_bsz") <= max_bucket).drop("_bsz"))
    dropped = (banded.groupBy(*keys)
               .agg(F.count("*").alias("bucket_size"))
               .where(F.col("bucket_size") > max_bucket))
    return capped, dropped


def ngram_span_pairs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 10,
                     max_bucket: int | None = 1000) -> DataFrame:
    """EXACT duplicated-span detection: distinct doc pairs sharing at
    least one verbatim n-token span (the deterministic core of
    suffix-array training-data dedup à la Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — here as a hashed
    n-gram inverted index instead of a suffix array, which Spark can
    shard).

    Beyond-reference: meza's ``unique`` (ref: meza/process.py:851-898)
    is whole-record; cross-document span sharing has no counterpart.

    Plan: tokens → every n-token window hashed JVM-side to int64
    (``transform(sequence(...))`` + ``xxhash64`` — whole-stage codegen,
    no Python) → explode to an (gram_hash, id) inverted index →
    self-join per gram. The shuffle carries (int64, id) only; the
    window strings never leave the scan stage. ``max_bucket`` drops
    grams shared by more docs than the cap (boilerplate) before the
    quadratic self-join, same policy as ``minhash_lsh_pairs``; dropped
    grams are exposed as ``result._dropped_buckets``.

    Exact by construction (modulo xxhash64 collisions, ~2⁻⁶⁴ per gram
    pair) — unlike MinHash/SimHash this has no probabilistic recall
    gap, at the price of |tokens| index entries per doc.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.size("_t") - (n - 1)),
        _gram_hasher(F.col("_t"), n))
    idx = (df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
           .where(F.size("_t") >= n)
           .select("_id", F.explode(gram_hashes).alias("gh"))
           .dropDuplicates(["_id", "gh"]))
    idx, dropped = _cap_buckets(idx, ["gh"], max_bucket)
    left, right = idx.alias("l"), idx.alias("r")
    out = (left.join(right, on="gh")
           .where(F.col("l._id") < F.col("r._id"))
           .select(F.col("l._id").alias("id_a"),
                   F.col("r._id").alias("id_b"))
           .dropDuplicates(["id_a", "id_b"]))
    out._dropped_buckets = dropped
    return out


def remove_duplicate_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 10,
                           min_count: int = 2,
                           max_bucket: int | None = 100_000) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL — the rewrite step of
    Lee-et-al substring dedup (``ngram_span_pairs`` only reports the
    pairs): every n-token window occurring ``min_count``+ times across
    the corpus is removed from every document EXCEPT its first
    occurrence (winner = smallest ``(doc_id, position)``), and each
    document's text is rebuilt from its surviving tokens.

    Semantics notes (deterministic, oracle-tested):
      - Fixed window length ``n`` approximates "any substring ≥ n":
        a duplicated run of length L ≥ n yields L-n+1 duplicated
        windows whose union covers the whole run — so full runs are
        removed, as in the suffix-array original.
      - A winner keeps its span unless ANOTHER duplicated window it
        doesn't win also covers those tokens (overlap ties — rare and
        resolved the same way everywhere).
      - Rebuild joins surviving tokens with single spaces (whitespace
        normalization — the win is dedup, not byte identity).

    Scale shape: windows shuffle as ``(int64 hash)`` keys only —
    window text never rides a shuffle; winner election is one
    min-aggregate; covered token indices shuffle as ``(id, int)``
    pairs; rebuild is one groupBy(id) over ints plus a broadcast-less
    join back to the full rows. ``max_bucket`` caps pathological
    windows (a boilerplate n-gram shared by millions of docs) exactly
    like the LSH caps: over-cap windows are left in place rather than
    exploding the cover join — report and handle those with
    ``dedup_lines``/``exact_dedup``.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
    pos_max = 1 << 20  # encode winner as one orderable int64
    win = (base.where(F.size("_t") >= n)
           .select("_id", F.posexplode(
               F.transform(
                   F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                   _gram_hasher(F.col("_t"), n)))
               .alias("_pos", "gh")))
    # _pos from posexplode is 0-based here (sequence index), window
    # start token index == _pos
    freq = (win.groupBy("gh")
            .agg(F.count("*").alias("_cnt"),
                 F.min(F.col("_id") * pos_max + F.col("_pos"))
                 .alias("_winner"))
            .where(F.col("_cnt") >= min_count))
    if max_bucket is not None:
        freq = freq.where(F.col("_cnt") <= max_bucket)
    # non-winner occurrences of duplicated windows → covered indices
    covered = (win.join(freq, on="gh")
               .where(F.col("_id") * pos_max + F.col("_pos")
                      != F.col("_winner"))
               .select("_id", F.explode(
                   F.sequence(F.col("_pos"),
                              F.col("_pos") + (n - 1))).alias("_ix"))
               .dropDuplicates(["_id", "_ix"]))
    cov = covered.groupBy("_id").agg(
        F.collect_set("_ix").alias("_cov"))
    joined = base.join(cov, on="_id", how="left")

    def _keep(tk, cv):
        return F.filter(tk, lambda x, i: ~F.array_contains(cv, i))

    rebuilt = F.when(F.col("_cov").isNull(), F.concat_ws(" ", "_t")) \
        .otherwise(F.concat_ws(" ", _keep(F.col("_t"), F.col("_cov"))))
    out = joined.select(F.col("_id").alias(id_col),
                        rebuilt.alias(text_col))
    others = [c for c in df.columns if c not in (id_col, text_col)]
    if others:
        out = df.drop(text_col).join(out, on=id_col)
        out = out.select(id_col, text_col, *others)
    return out


def _gram_hasher(toks, n: int):
    """Closure factory: PySpark passes the element index to 2-ary HOF
    lambdas, so a default-arg capture would mis-bind (see verify-skill
    gotchas) — bind ``toks``/``n`` via factory scope instead."""
    def _h(i):
        return F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n)))
    return _h


def ngram_jaccard(df_a: DataFrame, df_b: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, min_jaccard: float = 0.0,
                  join_on: str | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity between document pairs.

    With ``join_on`` (a blocking key, e.g. ``source``) the pair space is
    restricted to same-key pairs — at scale you ALWAYS block (either a
    natural key or LSH buckets via ``minhash_lsh_pairs``); the
    unblocked form is a cross join and only sane for small frames.
    """
    self_join = df_b is None or df_b is df_a
    df_b = df_b if df_b is not None else df_a
    df_a = spread(df_a)
    df_b = df_a if self_join else spread(df_b)
    a = _ngram_side(df_a, text_col, id_col, "id_a", n, join_on)
    # The self-join deliberately stays LAZY even though the rename
    # projection defeats ReuseExchange and the shingle subtree
    # executes under both legs: measured at sf0.1, a stats barrier
    # (util.barrier) on the shingled side is net SLOWER (1.4→1.7 s
    # warm — the materialization job costs more than the saved
    # re-shingle), and at cluster scale checkpointing the full shingle
    # table to local disk trades two parallel codegen scans for a
    # giant write. A caller that reuses a side
    # (near_dedup_incremental) cuts its lineage itself instead.
    b = a if self_join else _ngram_side(df_b, text_col, id_col, "id_b",
                                        n, join_on)
    return _ngram_pairs(a, b, self_join=self_join,
                        min_jaccard=min_jaccard, join_on=join_on)


def _ngram_side(df: DataFrame, text_col: str, id_col: str, idc: str,
                n: int, join_on: str | None) -> DataFrame:
    """One side of the n-gram pair join: ``(idc, [join_on], sh<side>)``
    with the shingle set hashed to a distinct int64 array.

    shingle STRINGS are hashed to int64 before the pair join: the
    set-intersection cost (and join/shuffle payload) drops to 8B per
    distinct shingle, and |A∩B|/|A∪B| is unchanged unless xxhash64
    collides inside one pair's union set (P ≈ |union|²/2^64 — for
    real shingle counts, negligible against any rounding).
    tokens materialized per side BEFORE shingling: an inline
    tokenizer expression would re-run the regex split per n-gram
    position inside the shingle transform (see shingles_from_tokens).

    Split out of :func:`ngram_jaccard` so incremental callers
    (``near_dedup_incremental``) can shingle each frame ONCE and feed
    the same materialized side into both the cross-corpus probe and
    the intra-batch self-join.
    """
    step = (df.withColumn("_tk", tokens(F.lower(F.col(text_col))))
            .withColumn("_sh", shingles_from_tokens(F.col("_tk"), n)))
    return step.select(
        F.col(id_col).alias(idc),
        *([F.col(join_on)] if join_on else []),
        F.array_distinct(F.transform(
            "_sh", lambda s: F.xxhash64(s))).alias(f"sh{idc[2:]}"))


def _ngram_pairs(a: DataFrame, b: DataFrame, self_join: bool,
                 min_jaccard: float, join_on: str | None) -> DataFrame:
    """Pair-join stage over pre-shingled sides (see
    :func:`_ngram_side`): blocked (or cross) join, size-ratio prune,
    exact Jaccard on the int64 shingle sets."""
    if self_join:
        # rename the shared side's columns for the right leg; the
        # caller passes the SAME frame for a and b
        b = b.select(
            F.col("id_a").alias("id_b"),
            *([F.col(join_on)] if join_on else []),
            F.col("sh_a").alias("sh_b"))
    if min_jaccard > 0:
        # size computed PER SIDE (once per row, rides the join as one
        # int) — computing F.size on the joined output would re-derive
        # the shingle arrays per PAIR (measured 2× slowdown)
        a = a.withColumn("_na", F.size("sh_a"))
        b = b.withColumn("_nb", F.size("sh_b"))
    joined = a.join(b, on=join_on) if join_on else a.crossJoin(b)
    if self_join:
        # self-join: each unordered pair once; a two-frame call wants
        # ALL cross pairs regardless of id order
        joined = joined.where(F.col("id_a") < F.col("id_b"))
    if min_jaccard > 0:
        # size-ratio prefilter (standard set-similarity-join bound):
        # J(A,B) ≤ min/max of the set sizes, so pairs violating
        # |A| ≥ j·|B| ∧ |B| ≥ j·|A| can't reach the threshold — two
        # int compares prune them BEFORE the O(|A|+|B|) intersect.
        # At j=0.8 this kills most of a blocked pair space; at j→0 it
        # passes everything and costs nothing.
        sa, sb = F.col("_na"), F.col("_nb")
        joined = (joined.where(
            F.least(sa, sb).cast("double")
            >= F.lit(min_jaccard) * F.greatest(sa, sb))
            .drop("_na", "_nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    out = joined.select("id_a", "id_b", jac.alias("jaccard"))
    return out.where(F.col("jaccard") >= min_jaccard) if min_jaccard > 0 else out


def ngram_containment(df_a: DataFrame, df_b: DataFrame | None = None,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, min_containment: float = 0.0,
                      join_on: str | None = None) -> DataFrame:
    """Exact n-gram CONTAINMENT between document pairs:
    ``|A∩B| / min(|A|,|B|)`` — the asymmetric near-dup signal.

    Jaccard punishes size mismatch: a tweet quoted verbatim inside a
    10k-word article scores J ≈ 0.001 and survives every
    Jaccard-threshold dedup, yet it IS a duplicate of the article's
    content (Broder's "containment" from the original resemblance
    paper, 1997 — public). Containment scores that pair ≈ 1.0. Use it
    to catch quote farms, wrapper pages, and boilerplate-plus-payload
    expansions of seen documents.

    Same machinery as :func:`ngram_jaccard` (shingle → int64 hash →
    blocked pair join); the size-RATIO prefilter is deliberately
    absent — small⊂large is exactly the pair containment exists to
    keep. Block with ``join_on`` (or pre-bucket with LSH) at scale:
    the unblocked form is a cross join.
    """
    self_join = df_b is None or df_b is df_a
    df_a = spread(df_a)
    a = _ngram_side(df_a, text_col, id_col, "id_a", n, join_on)
    if self_join:
        b = a.select(
            F.col("id_a").alias("id_b"),
            *([F.col(join_on)] if join_on else []),
            F.col("sh_a").alias("sh_b"))
    else:
        b = _ngram_side(spread(df_b), text_col, id_col, "id_b",
                        n, join_on)
    joined = a.join(b, on=join_on) if join_on else a.crossJoin(b)
    if self_join:
        joined = joined.where(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    mn = F.least(F.size("sh_a"), F.size("sh_b"))
    cont = F.when(mn > 0, inter.cast("double") / mn).otherwise(0.0)
    out = joined.select("id_a", "id_b", cont.alias("containment"))
    if min_containment > 0:
        out = out.where(F.col("containment") >= min_containment)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", bits: int = 64,
            out: str = "simhash",
            token_hash: str = "xxhash64") -> DataFrame:
    """Append a ``bits``-wide SimHash signature as ``bigint``.

    Row-local: token hashes vote per bit (+1/-1), sign of the vote sum
    becomes the bit. No explode, no shuffle. ``token_hash='md5'`` makes
    the fingerprint engine-portable (see :func:`_token_hashes`).
    """
    step = _token_hashes(df, text_col, token_hash)
    return _simhash_from_hashes(step, bits, out)


def _token_hashes(df: DataFrame, text_col: str,
                  token_hash: str = "xxhash64") -> DataFrame:
    """JVM-side distinct-token hash array as ``_th`` (int64).

    ``token_hash='xxhash64'`` (default): fastest, JVM codegen.
    ``token_hash='md5'``: first 64 bits (16 hex chars, big-endian) of
    md5 — slightly slower but bit-reproducible in ANY engine with an
    md5() builtin, which lets a differential oracle (DuckDB) recompute
    the exact SimHash fingerprints. Both stay whole-stage codegen.
    """
    def _h(t):
        if token_hash == "xxhash64":
            return F.xxhash64(t)
        if token_hash == "md5":
            # value = int(md5hex[:16], 16) assembled from two u32
            # halves; shiftleft wraps to the same two's-complement
            # int64 as a numpy uint64->int64 view
            hx = F.md5(t)
            hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
        raise ValueError(f"unknown token_hash: {token_hash}")

    # null text → empty token set (same fingerprint as empty text), not
    # a NULL array that would reach the vote kernel as None
    toks = F.coalesce(tokens(F.lower(F.col(text_col))),
                      F.array().cast("array<string>"))
    return spread(df).withColumn(
        "_th", F.transform(F.array_distinct(toks), _h))


def _simhash_from_hashes(step: DataFrame, bits: int,
                         out: str = "simhash") -> DataFrame:
    # The per-bit vote fold runs as an Arrow-batched numpy kernel.
    # Spark's higher-order array functions are interpreted (no codegen)
    # so the previous pure-expression fold (bits × tokens `when` tree)
    # was the measured hot spot; the numpy form is bit-identical
    # (arithmetic >> & 1 extracts the same bits, votes>=0 sets the same
    # sign bit). Callers control the Arrow payload: every column of
    # ``step`` except ``_th`` passes through the exchange.
    import numpy as np

    shifts = np.arange(bits, dtype=np.uint64)

    def run(batches):
        for pdf in batches:
            sigs = []
            for hs in pdf["_th"]:
                if hs is None:  # null-array row: same as empty text
                    hs = []
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                if h.size == 0:
                    votes = np.zeros(bits, dtype=np.int64)
                else:
                    bitm = ((h[:, None] >> shifts[None, :]) &
                            np.uint64(1)).astype(np.int64)
                    votes = (2 * bitm - 1).sum(axis=0)
                sig = np.bitwise_or.reduce(
                    ((votes >= 0).astype(np.uint64)) << shifts)
                sigs.append(int(np.int64(sig)))
            out_pdf = pdf.drop(columns=["_th"])
            out_pdf[out] = sigs
            yield out_pdf

    from pyspark.sql.types import LongType, StructField, StructType

    in_schema = [f for f in step.schema.fields if f.name != "_th"]
    out_schema = StructType(in_schema + [StructField(out, LongType())])
    return step.mapInPandas(run, schema=out_schema)


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int | None = 1000,
                  token_hash: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Banding: split the 64-bit signature into ``max_hamming+1`` chunks;
    any pair within the Hamming budget shares at least one exact chunk
    (pigeonhole), so candidates come from equality joins on
    (chunk_index, chunk_value) — shuffle on 16-bit ints, then exact
    Hamming verification via ``bit_count(xor)``.

    ``max_bucket`` bounds the quadratic term exactly as in
    :func:`minhash_lsh_pairs`: chunk buckets larger than the cap are
    dropped before the self-join (a hot 16-bit chunk value shared by a
    boilerplate-heavy corpus is otherwise O(bucket²)); dropped keys
    ride on ``result._dropped_buckets``. ``None`` disables.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    # lean Arrow payload: only (id, _th) crosses into the vote kernel
    sigged = _simhash_from_hashes(
        _token_hashes(df.select(id_col, text_col), text_col, token_hash)
        .select(F.col(id_col).alias("_id"), "_th"), bits=64)
    chunk_arr = F.array(*[
        F.struct(
            F.lit(ci).alias("ci"),
            F.shiftright("simhash", ci * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("cv"))
        for ci in range(chunks)])
    banded = sigged.select("_id", "simhash", F.explode(chunk_arr).alias("c")) \
                   .select("_id", "simhash", "c.ci", "c.cv")
    banded, dropped = _cap_buckets(banded, ["ci", "cv"], max_bucket)
    # kernel-once under every join strategy — same rationale as the
    # minhash band-index checkpoint above (the chunk index is
    # (id, sig, ci, cv) ≈ 32 B/row, tiny against the text)
    banded = lineage_cut(banded)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, on=["ci", "cv"])
             .where(F.col("l._id") < F.col("r._id"))
             .select(F.col("l._id").alias("id_a"),
                     F.col("r._id").alias("id_b"),
                     F.col("l.simhash").alias("sa"),
                     F.col("r.simhash").alias("sb"))
             .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    out = pairs.select("id_a", "id_b", ham.alias("hamming")) \
               .where(F.col("hamming") <= max_hamming)
    out._dropped_buckets = dropped
    return out
