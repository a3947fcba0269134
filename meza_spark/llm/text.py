"""Text analysis operators for training-data pipelines.

All expressions are JVM-side builtins (regexp/split/aggregate) — no
Python UDFs in any hot path, so these run inside WholeStageCodegen and
scale linearly with executors. Each operator is also expressible in
ANSI SQL for the DuckDB differential oracle (see __spark_entry__).

No `from __future__ import annotations`: stringified hints break
pandas_udf type-hint inference for the NFKC step in normalize_text.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import lineage_cut

__all__ = ["token_count", "quality_score", "lang_id", "fingerprint",
           "repetition_signals", "c4_quality_flags", "scrub_pii",
           "shingles", "tokens", "char_entropy", "chunk_documents",
           "vocab_topk", "tfidf_top_terms", "unigram_logprob",
           "perplexity_buckets",
           "gopher_filter", "normalize_text", "code_signals",
           "split_sentences", "readability", "bm25_topk",
           "inverted_index"]

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deterministic scoring, not a trained model.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "una"],
}

_WS = r"\s+"


def tokens(c: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, _WS))


def token_count(df: DataFrame, text_col: str = "text",
                out: str = "n_tokens") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (``n_subtokens``: word-boundary + digit/punct splits — a cheap
    deterministic proxy for BPE token counts)."""
    t = F.col(text_col)
    # boundary classes exclude whitespace so the zero-width splits can't
    # fire adjacent to a \s+ split (which would emit empty pieces);
    # count = whitespace tokens + in-word case/digit transitions
    bpe = F.when(F.trim(t) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(t),
                r"\s+|(?<=[a-z])(?=[A-Z])|(?<=[^\d\s])(?=\d)|(?<=\d)(?=[^\d\s])"))
    return df.withColumn(out, F.size(tokens(t))) \
             .withColumn("n_subtokens", F.size(bpe))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality features: length, punctuation ratio,
    stopword ratio, mean word length, and a composite 0-1 score.

    All ratios are single IEEE divisions of integer counts → bitwise
    deterministic across engines (oracle-safe).
    """
    t = F.col(text_col)
    # counts materialized as columns so the tokenizer/regex run ONCE
    # per row — the inline form re-evaluated tokens(t) per referencing
    # expression (~5× per row; multi-referenced columns survive
    # CollapseProject, inline expressions don't)
    step = (df
            .withColumn("n_chars_q", F.length(t))
            .withColumn("n_tokens", F.size(tokens(t)))
            .withColumn("_n_punct", F.col("n_chars_q") - F.length(
                F.regexp_replace(t, r"[^A-Za-z0-9\s]", "")))
            .withColumn("_n_alpha",
                        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")))
            .withColumn("_n_stop", F.size(F.filter(
                tokens(F.lower(t)),
                lambda w: w.isin(LANG_MARKERS["en"])))))
    nc, nt = F.col("n_chars_q"), F.col("n_tokens")
    step = (step
            .withColumn("punct_ratio", F.when(
                nc > 0, F.col("_n_punct").cast("double") / nc)
                .otherwise(0.0))
            .withColumn("stopword_ratio", F.when(
                nt > 0, F.col("_n_stop").cast("double") / nt)
                .otherwise(0.0))
            .withColumn("mean_word_len", F.when(
                nt > 0, F.col("_n_alpha").cast("double") / nt)
                .otherwise(0.0)))
    score = (
        F.when((nc >= 64) & (nc <= 100000), F.lit(0.4)).otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.2, F.lit(0.2)).otherwise(0.0)
        + F.when(F.col("stopword_ratio") > 0.01, F.lit(0.2)).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 2.0)
                 & (F.col("mean_word_len") <= 12.0),
                 F.lit(0.2)).otherwise(0.0)
    )
    return (step.withColumn("quality", score)
            .drop("_n_punct", "_n_alpha", "_n_stop"))


def lang_id(df: DataFrame, text_col: str = "text",
            out: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: score = count of tokens in each
    language's marker set; argmax wins, ties broken by fixed language
    order (en, de, fr, es), 'und' (undetermined) when all zero."""
    # tokenizer materialized once; per-language marker counts reference
    # the column (inline toks would re-tokenize once per language)
    step = df.withColumn("_li_tk", tokens(F.lower(F.col(text_col))))
    toks = F.col("_li_tk")

    def count_in(markers):
        # closure WITHOUT a default-arg second param: F.filter passes the
        # element index to 2-ary lambdas, which would shadow the list
        return F.size(F.filter(toks, lambda w: w.isin(markers)))

    scores = {lang: count_in(markers)
              for lang, markers in LANG_MARKERS.items()}
    order = list(LANG_MARKERS)
    expr = F.lit("und")
    best = F.greatest(*scores.values())
    # build reverse so earlier languages win ties
    for lang in reversed(order):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return step.withColumn(out, expr).drop("_li_tk")


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    the fraction of duplicated lines and duplicated words — boilerplate
    and listicle spam score high on both and get culled before
    training.

      - ``dup_line_frac``: 1 − distinct/total over ``\\n``-split lines
        (blank lines excluded)
      - ``dup_word_frac``: 1 − distinct/total over whitespace tokens
        (casefolded)
      - ``max_word_count``: occurrences of the most-repeated token —
        the "same word 500×" degenerate-doc detector

    Row-local array expressions only (split/distinct/aggregate): no
    shuffle, no Python, runs inside codegen.
    """
    t = F.col(text_col)
    # split/tokenize materialized once per row — each is referenced by
    # several downstream expressions (size, distinct, sort)
    step = (df.withColumn("_rs_ln", F.filter(
        F.split(t, r"\n"), lambda x: F.trim(x) != ""))
        .withColumn("_rs_tk", tokens(F.lower(t))))
    lines, toks = F.col("_rs_ln"), F.col("_rs_tk")
    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines
    ).otherwise(0.0)
    n_tok = F.size(toks)
    dup_word = F.when(
        n_tok > 0,
        1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok
    ).otherwise(0.0)
    # max occurrence count of any single token via sort + run lengths:
    # O(n log n) row-local (the distinct×total nested scan is
    # quadratic on degenerate same-word spam — the very docs this
    # filter exists to catch). Sorted array materialized as a column:
    # an inline expression would re-sort per lambda element (see
    # char_entropy).
    step = step.withColumn("_rs_srt", F.array_sort(toks))
    max_word = F.when(n_tok > 0,
                      F.array_max(_run_lengths(F.col("_rs_srt")))
                      ).otherwise(0)
    return (step.withColumn("dup_line_frac", dup_line)
            .withColumn("dup_word_frac", dup_word)
            .withColumn("max_word_count", max_word)
            .drop("_rs_srt", "_rs_ln", "_rs_tk"))


def _run_lengths(srt: Column) -> Column:
    """Lengths of equal-element runs in an already-sorted array —
    the row-local frequency kernel shared by ``char_entropy`` and
    ``repetition_signals``. ``try_element_at`` keeps the boundary
    probe at i=n ANSI-safe."""
    n = F.size(srt)
    ends = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: ~F.element_at(srt, i).eqNullSafe(
            F.try_element_at(srt, i + 1)))
    starts = F.concat(F.array(F.lit(0)),
                      F.slice(ends, 1, F.size(ends) - 1))
    return F.zip_with(ends, starts, lambda e, s: e - s)


def char_entropy(df: DataFrame, text_col: str = "text",
                 out: str = "char_entropy",
                 round_digits: int | None = 6) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution — the classic perplexity proxy: gibberish and
    single-char spam score low, natural prose ~4 bits, random base64
    ~6 bits. A standard pre-training quality feature alongside the
    Gopher/C4 flags above.

    Plan shape: entirely ROW-LOCAL — sort the char array, find
    equal-run boundaries with an index filter, fold
    ``-(c/n)·log2(c/n)`` over the run lengths. No explode, no
    (doc, char) shuffle (the naive distributed formulation ships one
    row per CHARACTER — at 100 TB that is the whole corpus through a
    shuffle); this runs inside codegen with zero data movement.
    ``try_element_at`` keeps the boundary probe ANSI-safe at i=n.
    """
    t = F.col(text_col)
    # the sorted array MUST be a materialized column: referencing the
    # array_sort(...) expression inside _run_lengths' element lambda
    # makes Spark re-evaluate the sort PER ELEMENT — O(n²·log n) per
    # document (measured ~100 s for 500 docs vs <1 s materialized)
    step = df.withColumn("_ce_srt", F.array_sort(F.split(t, "")))
    srt = F.col("_ce_srt")
    n = F.size(srt)
    counts = _run_lengths(srt)
    p = lambda c: c.cast("double") / n  # noqa: E731
    ent = -F.aggregate(
        counts, F.lit(0.0),
        lambda acc, c: acc + p(c) * F.log2(p(c)))
    ent = F.when(F.length(t) > 0, ent).otherwise(F.lit(0.0))
    if round_digits is not None:
        ent = F.round(ent, round_digits)
    return step.withColumn(out, ent).drop("_ce_srt")


def c4_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style document filters (Raffel et al. 2020 §2.2, public):
    the cleanup pass the original C4 corpus applied to Common Crawl,
    as boolean/ratio columns so the caller picks thresholds.

      - ``term_punct_line_frac``: fraction of non-blank lines ending
        in terminal punctuation (``. ! ? "``) — C4 keeps only lines
        that do; prose scores ~1, nav/menus ~0
      - ``short_line_frac``: fraction of non-blank lines under 3 words
        (C4 drops lines < 3 words)
      - ``has_lorem_ipsum``: placeholder-text marker
      - ``has_curly_brace``: ``{`` present — C4's code/JS detector
      - ``c4_keep``: the composite C4 verdict with its published
        defaults (≥3 sentences proxy: ≥5 non-blank lines OR
        term_punct_line_frac ≥ 0.6; no lorem ipsum; no curly brace)

    Row-local splits and ratios only: codegen'd, shuffle-free, and
    every ratio is one IEEE division of two ints (oracle-exact).
    """
    t = F.col(text_col)
    # line array materialized once (referenced by 3 counters below)
    df = df.withColumn("_c4_ln", F.filter(
        F.split(t, r"\n"), lambda x: F.trim(x) != ""))
    lines = F.col("_c4_ln")
    n_lines = F.size(lines)
    endp = F.size(F.filter(
        lines, lambda x: F.trim(x).rlike('[.!?"]$')))
    shortl = F.size(F.filter(
        lines, lambda x: F.size(F.split(F.trim(x), _WS)) < 3))
    term_frac = F.when(n_lines > 0,
                       endp.cast("double") / n_lines).otherwise(0.0)
    short_frac = F.when(n_lines > 0,
                        shortl.cast("double") / n_lines).otherwise(0.0)
    lorem = F.lower(t).contains("lorem ipsum")
    curly = t.contains("{")
    keep = ((n_lines >= 5) | (term_frac >= 0.6)) & ~lorem & ~curly
    return (df.withColumn("term_punct_line_frac", term_frac)
            .withColumn("short_line_frac", short_frac)
            .withColumn("has_lorem_ipsum", lorem)
            .withColumn("has_curly_brace", curly)
            .withColumn("c4_keep", keep)
            .drop("_c4_ln"))


# PII patterns restricted to syntax valid in BOTH Java regex (Spark)
# and RE2 (DuckDB) so the differential oracle can mirror them exactly:
# no backreferences, no lookaround.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{13,19}\b", "<CARD>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text",
              out: str | None = None) -> DataFrame:
    """Replace emails / IPv4s / US-style phone numbers / long digit
    runs (card-shaped) with typed placeholder tokens — the standard
    pre-training redaction pass. Pattern order matters (IP before
    phone before card, so digit runs are claimed most-specific-first);
    all four are chained ``regexp_replace`` JVM expressions.
    """
    c = F.col(text_col)
    for pat, tok in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tok)
    return df.withColumn(out or text_col, c)


def fingerprint(df: DataFrame, text_col: str = "text",
                out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of the casefolded, punctuation-collapsed,
    whitespace-normalized text — the standard "fingerprint clustering"
    key (Open-Refine style). Exact-dup detection robust to formatting.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   r"[^a-z0-9]+", " "))
    return df.withColumn(out, F.md5(norm))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) from a token ARRAY column.

    Pass a materialized token column (``withColumn('_toks', tokens(c))``)
    when composing with other array ops — attribute references are free,
    whereas inlining the tokenizer expression here would re-run the
    regex split once per n-gram position.
    """
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int"))
                                     for j in range(n)]))
    # when fewer tokens than n, fall back to the whole text as one shingle
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))) \
            .otherwise(F.array_distinct(grams))


def shingles(c: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of a TEXT column — the unit
    for MinHash/Jaccard. JVM-side: sequence + transform over the token
    array, no explode, no shuffle. Prefer ``shingles_from_tokens`` over
    a pre-tokenized column inside larger pipelines."""
    return shingles_from_tokens(tokens(F.lower(c)), n)


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", size: int = 512,
                    overlap: int = 0,
                    chunk_col: str = "chunk") -> DataFrame:
    """Token-window chunking: split each document into fixed-size
    token chunks with optional overlap — the context-window prep step
    (training-sequence packing inputs, RAG passage splitting). One row
    per chunk: every input column + ``chunk_id`` (0-based within doc),
    ``chunk_start`` (token offset), ``chunk_n_tokens``, and the chunk
    text (tokens re-joined with single spaces).

    Row-local: tokenize → chunk-start sequence (stride = size -
    overlap) → posexplode → slice. No shuffle, no Python — the explode
    multiplies rows ~len/stride inside the same task, so the operator
    streams at scan speed and the planner can push any downstream
    chunk-level filter into the same stage. Empty docs produce zero
    chunks (records-out contract: chunks, not docs).
    """
    if not 0 <= overlap < size:
        raise ValueError("chunk_documents: need 0 <= overlap < size")
    stride = size - overlap
    toks = tokens(F.col(text_col))
    base = df.withColumn("_t", toks).where(F.size("_t") > 0)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            ((F.size("_t") - 1) / stride).cast("int") * stride, F.lit(0)),
        F.lit(stride))
    others = [c for c in df.columns if c != text_col]
    out = base.select(*others, F.col("_t"),
                      F.posexplode(starts).alias("chunk_id", "chunk_start"))
    piece = F.slice("_t", F.col("chunk_start") + 1, size)
    return (out.select(
        *others,
        "chunk_id", "chunk_start",
        F.size(piece).alias("chunk_n_tokens"),
        F.concat_ws(" ", piece).alias(chunk_col)))


def vocab_topk(df: DataFrame, text_col: str = "text", k: int = 100,
               min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent casefolded tokens
    with counts — the first pass of any tokenizer/vocab build.

    One explode + one count shuffle keyed by token (partial
    aggregation combines map-side, so the shuffle carries one row per
    distinct token per partition, not per occurrence); top-k is a
    TakeOrdered (k rows to the driver, no global sort). Ties break
    lexicographically for determinism.
    """
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("token"))
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("n"))
              .where(F.col("n") >= min_count))
    return (counts.orderBy(F.col("n").desc(), F.col("token").asc())
            .limit(k))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5,
                    round_digits: int = 6) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF
    (``tf · (ln((N+1)/(df+1)) + 1)``, the standard sklearn-style
    smooth-idf — public formula). Returns
    ``(id, term, tf, df, score, rank)``.

    Plan: ONE tokenize+explode pass → per-(doc, term) tf; the
    per-term document frequency is a WINDOW over that same frame
    partitioned by term (an agg-joined-back form would re-execute
    the whole tokenize subtree — Catalyst has no common-subplan
    reuse). The corpus size N is a broadcast one-row aggregate over
    a pruned scan. Deterministic: idf's log runs over small
    rationals (same IEEE result across engines — the char_entropy
    precedent), the score rounds, ranks tie-break on the term.
    """
    from pyspark.sql import Window

    pairs = (df.select(F.col(id_col).alias("_id"),
                       F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("term")))
    tf = (pairs.groupBy("_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (tf.withColumn("df", F.count("*").over(
                  Window.partitionBy("term")))
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score", F.round(
                  F.col("tf") * (F.log((F.col("_n") + 1).cast("double")
                                       / (F.col("df") + 1)) + 1),
                  round_digits)))
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("_id").alias(id_col), "term", "tf", "df",
                    "score", "rank"))


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    round_digits: int = 6,
                    broadcast_vocab: bool = True) -> DataFrame:
    """Mean unigram log-probability per document — the deterministic
    perplexity proxy (CCNet-style pipelines score documents with a
    language model and drop the tails; the unigram LM version keeps
    the shape of that signal while staying exact, engine-portable,
    and trainable in one aggregation over the corpus itself).

    Returns ``(id, n_tokens, logprob)`` with
    ``logprob = mean_t ln(count(t) / total_tokens)`` — gibberish and
    rare-token soup score low, common prose scores high. Documents
    with no tokens get a null score.

    Scale shape: the tokenize/explode pass runs once for the vocab
    build (then a materialization barrier — see below) and once for
    the scoring join; the vocab is broadcast when
    ``broadcast_vocab=True`` (Zipf keeps real vocabularies millions
    of rows — broadcastable far longer than you'd guess; flip to
    ``False`` to let the join shuffle on the token key instead). The
    per-doc mean accumulates in decimal so partition order can't
    change the result.
    """
    pairs = df.select(F.col(id_col).alias("_id"),
                      F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("term"))
    freq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("_n"))
    # barrier the vocab: the scalar-total branch and the scoring join
    # would otherwise EACH re-run the tokenize+explode+agg subtree
    # (Catalyst has no common-subplan reuse); the vocab is Zipf-
    # bounded, so materializing it once is cheap at any corpus size
    freq = lineage_cut(freq)
    total = freq.agg(F.sum("_n").alias("_total"))
    if broadcast_vocab:
        freq = F.broadcast(freq)
    lp = F.log(F.col("_n") / F.col("_total"))
    scored = (pairs.join(freq, on="term")
              .crossJoin(F.broadcast(total))
              .groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   (F.sum(lp.cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1))).alias("_lp")))
    out = (df.select(F.col(id_col))
           .join(scored, F.col(id_col) == F.col("_id"), "left")
           .select(id_col, F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                   F.round("_lp", round_digits).alias("logprob")))
    return out


def perplexity_buckets(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", lang_col: str = "lang",
                       n_buckets: int = 3,
                       round_digits: int = 6,
                       exact: bool = True) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", 2020 — public): score every document with the
    perplexity proxy (:func:`unigram_logprob`), then split EACH
    LANGUAGE into ``n_buckets`` equal-population buckets by score —
    bucket 1 = head (best), ``n_buckets`` = tail. CCNet trains on the
    head/middle and drops or down-weights the tail.

    Returns ``(id, lang, n_tokens, logprob, ppl_bucket)``.

    Deterministic: bucket assignment is ``ntile`` over
    ``(logprob DESC NULLS LAST, id)`` — the rounded score breaks ties
    by id, so the row set is identical on any partitioning or engine.

    Scale shape: the scoring pass is :func:`unigram_logprob`
    (broadcast vocab, no corpus shuffle); bucketing is ONE window
    partitioned by language. A mega-language serializes its ntile
    into one task — ``exact=False`` is the web-scale path: per-language
    ``approx_percentile`` bucket thresholds from one aggregation
    (languages-sized, broadcast back), then a row-local comparison —
    no window at all, same buckets up to sketch estimation error. The
    exact form is the oracle-testable default.
    """
    from pyspark.sql import Window

    scored = unigram_logprob(df, text_col=text_col, id_col=id_col,
                             round_digits=round_digits)
    keyed = scored.join(df.select(id_col, lang_col), on=id_col)
    if exact:
        w = Window.partitionBy(lang_col).orderBy(
            F.col("logprob").desc_nulls_last(), F.col(id_col).asc())
        return keyed.select(
            id_col, lang_col, "n_tokens", "logprob",
            F.ntile(n_buckets).over(w).alias("ppl_bucket"))
    # approx path: thresholds at the (1/n .. (n-1)/n) quantiles of the
    # score, per language; bucket b = 1 + #{thresholds above score}
    # (score DESC semantics — bucket 1 = head). Null scores → tail.
    probs = [i / n_buckets for i in range(1, n_buckets)]
    th = keyed.groupBy(lang_col).agg(
        F.percentile_approx("logprob", list(reversed(probs)), 10000)
        .alias("_th"))
    over = F.aggregate(
        "_th", F.lit(0),
        lambda acc, t: acc + F.when(F.col("logprob") < t, 1)
        .otherwise(0))
    bucket = (F.when(F.col("logprob").isNull(), n_buckets)
              .otherwise(F.lit(1) + over))
    return (keyed.join(F.broadcast(th), on=lang_col)
            .select(id_col, lang_col, "n_tokens", "logprob",
                    bucket.cast("int").alias("ppl_bucket")))


def gopher_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, Table A1 —
    public): the pre-training keep/drop heuristics, as per-rule
    booleans plus the composite ``gopher_keep`` and a ``gopher_drop_
    reasons`` array naming every violated rule (audit form).

    Rules (document level; the two line-fraction rules live in
    :func:`c4_quality_flags`/:func:`repetition_signals`):
      - 50 ≤ word count ≤ 100,000
      - 3 ≤ mean word length ≤ 10
      - symbol-to-word ratio ≤ 0.1 (``#`` and ``...``)
      - ≥ 80% of words contain at least one alphabetic character
      - ≥ 2 of the 5 English stopword markers present

    Shuffle-free row-local expressions; every ratio is one IEEE
    division of two ints (oracle-exact).
    """
    t = F.col(text_col)
    df = df.withColumn("_gf_toks", tokens(t))
    toks = F.col("_gf_toks")
    n_words = F.size(toks)
    mean_wlen = F.when(n_words > 0,
                       F.length(F.concat_ws("", toks)).cast("double")
                       / n_words).otherwise(0.0)
    n_sym = (F.size(F.split(t, r"#", -1)) - 1) \
        + (F.size(F.split(t, r"\.\.\.", -1)) - 1)
    sym_ratio = F.when(n_words > 0,
                       n_sym.cast("double") / n_words).otherwise(0.0)
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0,
                        n_alpha_words.cast("double") / n_words) \
        .otherwise(0.0)
    n_stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in LANG_MARKERS["en"]]),
        lambda s: F.array_contains(F.transform(toks, F.lower), s)))
    rules = [
        ("word_count", (n_words >= 50) & (n_words <= 100_000)),
        ("mean_word_length", (mean_wlen >= 3.0) & (mean_wlen <= 10.0)),
        ("symbol_ratio", sym_ratio <= 0.1),
        ("alpha_word_frac", alpha_frac >= 0.8),
        ("stopword_count", n_stop_hits >= 2),
    ]
    out = df
    keep = F.lit(True)
    for name, ok in rules:
        out = out.withColumn(f"gopher_{name}_ok", ok)
        keep = keep & F.col(f"gopher_{name}_ok")
    reasons = F.filter(
        F.array(*[F.when(~F.col(f"gopher_{n}_ok"), F.lit(n))
                  for n, _ in rules]),
        lambda x: x.isNotNull())
    return (out.withColumn("gopher_keep", keep)
            .withColumn("gopher_drop_reasons", reasons)
            .drop("_gf_toks"))


def normalize_text(df: DataFrame, text_col: str = "text",
                   out: str | None = None, lowercase: bool = False,
                   unicode_form: str | None = None) -> DataFrame:
    """Canonical text cleanup before hashing/dedup/tokenization:

      - strip C0/C1 control chars (except ``\\n`` and ``\\t``)
      - standardize curly quotes / long dashes / NBSP to ASCII
      - collapse runs of spaces/tabs, trim line edges, trim ends
      - optional casefold (``lowercase=True``)
      - optional Unicode normalization (``unicode_form='NFC'|'NFKC'``)
        — the ONLY step that leaves the JVM (Arrow-batched pandas UDF
        over ``str.normalize``); leave ``None`` to stay whole-stage
        codegen end-to-end.

    The JVM steps mirror 1:1 to RE2 so the differential oracle can
    replay them; NFKC parity is unit-tested instead (DuckDB exposes
    NFC only).
    """
    c = F.col(text_col)
    c = F.regexp_replace(c, "[‘’‛]", "'")
    c = F.regexp_replace(c, "[“”‟]", '"')
    c = F.regexp_replace(c, "[–—―]", "-")
    c = F.regexp_replace(c, "[   ]", " ")
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", "")
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    if unicode_form is not None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        form = str(unicode_form)

        @pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            return s.str.normalize(form)

        c = _norm(c)
    return df.withColumn(out or text_col, c)


def code_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose signals (the StarCoder/FineWeb-style routing
    step: code goes to its own pipeline, not through prose quality
    rules). Heuristic ratios + keyword hits as columns so the caller
    picks thresholds; ``is_code_like`` is a composite default.

      - ``code_sym_frac``: fraction of chars in ``{}[]();=<>``
      - ``indent_line_frac``: fraction of non-blank lines starting
        with 2+ spaces or a tab (block structure)
      - ``code_kw_hits``: count of distinct language keywords present
        (``def/return/import/function/var/const/class/public/void``,
        word-bounded)
      - ``is_code_like``: sym ≥ 0.03 AND (indent ≥ 0.2 OR kw ≥ 2)

    Row-local codegen expressions; every ratio one IEEE division of
    two ints (oracle-exact).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_sym = n_chars - F.length(F.regexp_replace(
        t, r"[{}\[\]();=<>]", ""))
    lines = F.filter(F.split(t, "\n", -1),
                     lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    n_indent = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^(  |\t)")))
    kws = ["def", "return", "import", "function", "var", "const",
           "class", "public", "void"]
    kw_hits = None
    for k in kws:
        hit = F.when(t.rlike(rf"\b{k}\b"), 1).otherwise(0)
        kw_hits = hit if kw_hits is None else kw_hits + hit
    sym_frac = F.when(n_chars > 0,
                      n_sym.cast("double") / n_chars).otherwise(0.0)
    indent_frac = F.when(n_lines > 0, n_indent.cast("double") / n_lines) \
        .otherwise(0.0)
    return (df.withColumn("code_sym_frac", sym_frac)
            .withColumn("indent_line_frac", indent_frac)
            .withColumn("code_kw_hits", kw_hits)
            .withColumn("is_code_like",
                        (F.col("code_sym_frac") >= 0.03)
                        & ((F.col("indent_line_frac") >= 0.2)
                           | (F.col("code_kw_hits") >= 2))))


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    out_col: str = "sentence",
                    min_chars: int = 1) -> DataFrame:
    """Explode documents into ``(id, sent_idx, sentence)`` rows at
    terminal punctuation (``.!?`` followed by whitespace) — the
    sentence-granular prep for alignment/citation/window-at-sentence-
    boundary work. Deliberately regex-only (no trained segmenter):
    deterministic, engine-replayable, and honest about abbreviation
    limits (``e.g. foo`` splits — document it, don't guess).

    Row-local split + posexplode: no shuffle, ordering key included so
    downstream re-assembly (``concat_ws`` over ``sort_array``) is
    exact. Implemented as boundary-marker insertion + split rather
    than a lookbehind split: RE2 engines (DuckDB, Go) have no
    lookbehind, and the capture/backreference form below replays
    verbatim in both dialects. Texts containing U+001E (record
    separator) would split there too — curation corpora strip control
    chars first (:func:`normalize_text`).
    """
    marked = F.regexp_replace(F.col(text_col), r"([.!?])\s+",
                              "$1\u001e")
    ex = df.select(F.col(id_col),
                   F.posexplode(F.split(marked, "\u001e", -1))
                   .alias("sent_idx", out_col))
    return ex.where(F.length(F.trim(F.col(out_col))) >= min_chars) \
        .withColumn(out_col, F.trim(F.col(out_col)))


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade as quality-filter
    features (readability bands are a standard web-curation signal
    next to the Gopher rules). Adds ``n_sentences``, ``n_words``,
    ``n_syllables``, ``flesch_micro``, ``fk_grade_micro`` (1e-6
    units; null when the text has no words).

    Syllables use the classic vowel-group heuristic (every maximal
    ``[aeiouy]+`` run = one syllable, minimum 1 per word) — the same
    approximation the readability formulas were calibrated against.
    All row-local codegen (split → transform → aggregate; no UDF, no
    shuffle), and every float step is a fixed IEEE shape over exact
    integer counts so the DuckDB twin hash-matches:

        flesch = 206.835 - 1.015·(words/sentences)
                         - 84.6·(syllables/words)
        fk     = 0.39·(words/sentences) + 11.8·(syllables/words)
                 - 15.59
    """
    t = F.trim(F.lower(F.col(text_col)))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    syl = F.aggregate(
        F.transform(words,
                    lambda w: F.greatest(F.lit(1),
                                         F.regexp_count(w, F.lit("[aeiouy]+")))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    sents = F.greatest(F.lit(1),
                       F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")))
    step = (df.withColumn("n_sentences", sents.cast("long"))
            .withColumn("n_words", F.size(words).cast("long"))
            .withColumn("n_syllables", syl))
    wd = F.col("n_words").cast("double")
    sd = F.col("n_sentences").cast("double")
    yd = F.col("n_syllables").cast("double")
    flesch = (F.lit(206.835) - F.lit(1.015) * (wd / sd)
              - F.lit(84.6) * (yd / wd))
    fk = (F.lit(0.39) * (wd / sd) + F.lit(11.8) * (yd / wd)
          - F.lit(15.59))
    has = F.col("n_words") > 0
    return (step
            .withColumn("flesch_micro",
                        F.when(has, F.floor(flesch * 1000000 + F.lit(0.5))
                               .cast("long")))
            .withColumn("fk_grade_micro",
                        F.when(has, F.floor(fk * 1000000 + F.lit(0.5))
                               .cast("long"))))


def bm25_topk(df: DataFrame, query: str, text_col: str = "text",
              id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
              k: int = 20, round_digits: int = 6) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones, the Lucene
    variant with the +1-inside-ln idf): top-``k`` documents for a
    whitespace query. Returns ``(id, n_hits, score)``.

    Scale shape: ONE corpus scan — the per-doc aggregate computes the
    document length AND one conditional count per query term in the
    same pass (queries are a handful of terms, so the agg is |q|+1
    counters per doc), then a ``stack`` unpivot turns the counters
    into (doc, term, tf) rows. Everything downstream of that scan is
    per-doc-sized: N/avgdl/df are tiny aggregates broadcast back,
    per-doc scores accumulate in decimal so term order can't wiggle
    the sum, and ranking is one TakeOrdered, never a global sort.
    """
    q_terms = sorted({t for t in query.lower().split() if t})
    if not q_terms:
        raise ValueError("bm25_topk: empty query")
    pairs = df.select(F.col(id_col).alias("_id"),
                      F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("term"))
    per_doc = pairs.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_dl"),
        *[F.sum(F.when(F.col("term") == t, 1).otherwise(0))
          .alias(f"_tf_{i}") for i, t in enumerate(q_terms)])
    # one row per doc — cheap to materialize; feeds N/avgdl AND the
    # scoring path, so the corpus tokenize runs exactly once
    per_doc = lineage_cut(per_doc)
    stats = per_doc.agg(F.count(F.lit(1)).alias("_N"),
                        F.sum("_dl").alias("_tot"))
    # Column-API unpivot — interpolating user query terms into a
    # selectExpr string would mis-lex quotes/backslashes (adjacent
    # string literals concatenate, collapsing distinct terms into one
    # label and corrupting df)
    tf = (per_doc.select(
        "_id", "_dl",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("term"),
                     F.col(f"_tf_{i}").alias("_tf"))
            for i, t in enumerate(q_terms)])).alias("_kv"))
        .select("_id", "_dl", F.col("_kv.term").alias("term"),
                F.col("_kv._tf").alias("_tf"))
        .where(F.col("_tf") > 0))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    nd = F.col("_N").cast("double")
    idf = F.log(F.lit(1.0) + (nd - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5)))
    avgdl = F.col("_tot").cast("double") / nd
    tfd = F.col("_tf").cast("double")
    norm = tfd * (F.lit(float(k1)) + F.lit(1.0)) / (
        tfd + F.lit(float(k1))
        * (F.lit(1.0) - F.lit(float(b))
           + F.lit(float(b)) * F.col("_dl").cast("double") / avgdl))
    per_term = (tf.join(F.broadcast(dfreq), on="term")
                .crossJoin(F.broadcast(stats))
                .select("_id", (idf * norm).alias("_s")))
    scored = (per_term.groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_hits"),
                   F.sum(F.col("_s").cast("decimal(38,18)"))
                   .cast("double").alias("_score")))
    return (scored.select(F.col("_id").alias(id_col), "n_hits",
                          F.round("_score", round_digits).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_df: int = 1,
                   max_postings: int | None = None) -> DataFrame:
    """Inverted index build: one row per term with its document
    frequency and the SORTED posting list — the retrieval-side twin
    of :func:`bm25_topk` (score at query time with the same idf).
    Returns ``(term, df, postings array<long>)``.

    One tokenize/explode pass → distinct (term, doc) → ONE term-key
    partitioning shared by a window and the final collect (no second
    exchange). ``df`` and the posting rank come from the window, so
    ``min_df`` pruning and the ``max_postings`` cap are ROW filters
    applied BEFORE any list materializes — the cap genuinely bounds
    reducer memory (Zipf's head would otherwise make the stopword
    rows collect a full posting array in a single reducer before any
    slice could run — the same skew valve every pair generator here
    uses). Truncation is recorded in ``truncated``.
    """
    from pyspark.sql import Window

    pairs = (df.select(F.col(id_col).alias("_id"),
                       F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("term"))
             .distinct())
    wt = Window.partitionBy("term")
    pairs = (pairs
             .withColumn("_df", F.count(F.lit(1)).over(wt))
             .withColumn("_rn", F.row_number().over(
                 wt.orderBy("_id"))))
    if min_df > 1:
        pairs = pairs.where(F.col("_df") >= int(min_df))
    if max_postings is not None:
        pairs = pairs.where(F.col("_rn") <= int(max_postings))
    idx = (pairs.groupBy("term")
           .agg(F.max("_df").alias("df"),
                F.array_sort(F.collect_list("_id")).alias("postings")))
    if max_postings is not None:
        idx = idx.withColumn("truncated",
                             F.col("df") > int(max_postings))
    return idx
