"""Corpus-level text statistics (north star): document frequency / IDF,
per-document TF-IDF top terms, and corpus top-k n-grams.

These are the corpus-wide companions to the per-document ops in
text/analysis.py — the building blocks of quality filtering (drop documents
dominated by boilerplate terms), keyword extraction, and n-gram-based
contamination checks in a training-data pipeline.

Scale design: everything is explode → groupBy — two shuffles carrying
(token, count) pairs, never document bodies. The doc-frequency aggregation
partial-aggregates map-side (a token appearing 10⁶ times in a partition
contributes one row to the shuffle). Top-k shapes compile to
TakeOrderedAndProject (per-partition heaps), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import spread_small_scan

# surprisal scores floor(log2(ratio · 2^20)): the ratio's fixed-point scale
SURPRISAL_SCALE_BITS = 20
# Kneser–Ney absolute discount D = 3/4, as (numerator, denominator)
_KN_DISCOUNT = (3, 4)


def _tokens(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    # NO spread guard (r12, measured): split+explode into a map-side
    # partial agg is too light to pay for the exchange (tfidf 1.16→1.32 s
    # with one); the guard only earns its shuffle above md5/score-fold
    # grade per-row work
    return df.select(
        F.col(id_col), F.explode(F.split(F.col(content_col), r"\s+")).alias("token")
    ).where(F.col("token") != "")


def term_frequencies(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token, tf): whitespace-token counts per document."""
    return (
        _tokens(df, content_col, id_col)
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )


def doc_frequency(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, df_count): number of documents containing each token. Built
    from the per-doc term table so the corpus-wide shuffle carries one row
    per (doc, token), already collapsed map-side."""
    return (
        term_frequencies(df, content_col, id_col)
        .groupBy("token")
        .agg(F.count("*").alias("df_count"))
    )


def idf_table(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, df_count, idf) with idf = ln(N / df). N is a driver-side
    count — one metadata action, then a plan literal (broadcastable to any
    cluster size)."""
    n_docs = df.count()
    return doc_frequency(df, content_col, id_col).withColumn(
        "idf", F.log(F.lit(float(n_docs)) / F.col("df_count"))
    )


def tfidf_top_terms(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    idf_fn=None,
) -> DataFrame:
    """(id, token, tf, score) — each document's top-3 terms by
    tf·idf, ties broken lexicographically for determinism. The idf join is
    a broadcast (vocabulary ≪ corpus); the per-doc top-k is a window over
    (doc, score) — partitioned by doc, so no global single-task window.

    ``idf_fn(n_docs, df_count_col) -> Column`` overrides the idf formula —
    e.g. an integer-quantized variant for engine-exact comparison; default
    is ln(N / df)."""
    n_docs = df.count()
    tf = term_frequencies(df, content_col, id_col)
    dfreq = doc_frequency(df, content_col, id_col)
    idf_col = (
        idf_fn(n_docs, F.col("df_count"))
        if idf_fn
        else F.log(F.lit(float(n_docs)) / F.col("df_count"))
    )
    idf = dfreq.select("token", idf_col.alias("idf"))
    scored = tf.join(F.broadcast(idf), "token").withColumn(
        "score", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= 3)
        .drop("__rank")
    )


def ngram_col(content_col: str, n: int) -> Column:
    """Array of word n-grams (space-joined) — native transform/slice."""
    toks = F.split(F.col(content_col), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def top_ngrams(
    df: DataFrame,
    k: int = 20,
    content_col: str = "text",
) -> DataFrame:
    """Corpus top-``k`` bigrams by occurrence count (ties broken
    lexicographically). Compiles to explode → partial-count → shuffle of
    (ngram, partial) pairs → TakeOrderedAndProject."""
    grams = df.select(F.explode(ngram_col(content_col, 2)).alias("ngram"))
    counts = grams.groupBy("ngram").agg(F.count("*").alias("n_occurrences"))
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("ngram")).limit(k)


def _unigram_tokens(
    df: DataFrame, content_col: str, id_col: str, tokens_col: str | None
) -> DataFrame:
    """(id, token) rows of the surprisal LM's tokenizer: split on ``" "``
    (or the ``tokens_col`` array), drop empty tokens."""
    tok_src = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.split(F.col(content_col), " ")
    )
    # empty tokens from leading/trailing/repeated whitespace would inflate
    # n_words and enter the unigram distribution (ADVICE r4) — drop them,
    # matching the tokenizer module's split-then-filter convention
    return df.select(
        F.col(id_col), F.explode(tok_src).alias("token")
    ).where(F.col("token") != "")


def unigram_lm(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """The unigram LM table ``(token, c)`` of :func:`unigram_surprisal`,
    with the same tokenizer — persist it to score later documents against
    a frozen LM (pipelines/curation_stream.py). No spread guard: a
    count-only walk is too light to pay for the exchange (see
    :func:`_tokens`)."""
    return _lm_counts(_unigram_tokens(df, content_col, id_col, None))


def _lm_counts(toks: DataFrame) -> DataFrame:
    return toks.groupBy("token").agg(F.count("*").alias("c"))


def unigram_surprisal(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    lm: DataFrame | None = None,
) -> DataFrame:
    """Per-document unigram surprisal — the corpus-LM quality filter (the
    CCNet-style perplexity gate, with the corpus itself as the language
    model): each token scores ``floor(log2(N_tokens·2^20 /
    count(token)))`` bits (integer log2 via ``length(bin(x)) − 1`` — exact
    in every engine, unlike libm ``ln``), and a document reports
    (n_words, sum_bits, mean_bits). High mean ⇒ rare-token-heavy documents
    (gibberish, boilerplate IDs); low mean ⇒ head-token repetition. Rank
    and cut at either tail.

    ``lm`` scores against another ``(token, c)`` table (:func:`unigram_lm`
    of a reference corpus, e.g. a frozen sidecar) instead of the frame's
    own counts; ``N_tokens`` is then that table's total, and a token the
    table lacks prices as c = 1 (maximum surprisal).

    Scale shape: token counts collapse map-side to a (token, count) table
    (the corpus vocabulary — Zipf-small next to the token stream); the
    scoring join is per-token against that table (AQE broadcasts it when
    it fits, and hot-token skew splits under the skew-join rule); the
    corpus total rides in-plan as a broadcast 1-row aggregate — no driver
    action anywhere.

    ``tokens_col`` names a pre-tokenized array column (e.g.
    ``analysis.unicode_tokens`` for CJK/Thai corpora, where the
    split-on-space default collapses a whole line to one token and the
    surprisal LM silently degenerates); the default keeps the
    fixture-oracle contract."""
    # spread guard KEPT on the own-LM path (r12, measured): unlike the
    # count-only corpus walks (tfidf/vocab/top-ngrams/unigram_lm), that
    # token stream is consumed TWICE (count table + the scoring join
    # probe) and the scoring side carries a broadcast-join probe + per-doc
    # partial agg on the scan task — profiled 5.2 s single-task inside the
    # curation s1 pin without the guard (no-op at corpus scale, §2.5).
    # Against a given ``lm`` the stream is walked once, like the
    # count-only walks, and small micro-batches would pay the exchange
    # per batch — no guard there.
    src = df.select(F.col(id_col), F.col(tokens_col or content_col))
    if lm is None:
        src = spread_small_scan(src, id_col)
    toks = _unigram_tokens(src, content_col, id_col, tokens_col)
    counts = _lm_counts(toks) if lm is None else lm
    # r12: the corpus total is the sum of the vocabulary counts — derive it
    # from the (token, c) table instead of a second full tokenize+explode
    # pass over the corpus (guide §1.2: don't compute things twice)
    total = counts.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(counts, "token", "inner" if lm is None else "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            # shift-free: floor(log2(n·2^s/c)) == floor(log2(n div c)) + s
            # for n >= c >= 1 (exact — 2^s is an integer factor and
            # floor∘log2 commutes with floor for x >= 1), so the pre-shift
            # that overflowed int64 at n >= 2^(63-s) is eliminated (ADVICE r6)
            (
                F.length(F.bin(F.expr("n div coalesce(c, 1L)")))
                - 1
                + SURPRISAL_SCALE_BITS
            ).alias("bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("bits").cast("long").alias("sum_bits"),
        (F.sum("bits") / F.count("*")).alias("mean_bits"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Split documents into overlapping retrieval chunks — the corpus →
    RAG-index preparation step (pairs with text/similarity.py's ANN
    probes and text/retrieval.py's BM25): one row per chunk with
    ``(id, chunk_id, start_token, n_tokens, chunk_text)``.

    Chunk ``j`` starts at token ``1 + j·stride`` (``stride = chunk_tokens
    − overlap``); the number of chunks is the closed form ``1`` for
    ``n ≤ chunk_tokens`` else ``1 + ceil((n − chunk_tokens)/stride)`` —
    i.e. the final chunk is the first one reaching the document's end
    (no fully-contained tail chunks). Empty documents yield no chunks.
    All integer arithmetic, so chunk boundaries are engine-exact.

    Scale shape: entirely row-local until the single explode — tokens
    split once into an array column, chunk texts are ``slice`` +
    ``array_join`` over it; no shuffle at all (chunking inherits the
    scan's partitioning; downstream indexing decides its own keying).
    """
    assert chunk_tokens >= 1 and 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens) — on
    # space-split an unspaced CJK doc is ONE token = one chunk however
    # long, blowing the retrieval context budget silently
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    base = df.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(
            f"(size(__tk) - {chunk_tokens} + {stride} - 1) div {stride}"
        ).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.struct(
            j.cast("long").alias("chunk_id"),
            (j * stride + 1).cast("long").alias("start_token"),
            F.array_join(
                F.slice(F.col("__tk"), j * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - j * stride, F.lit(chunk_tokens))
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return (
        base.where(n > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            "c.chunk_id",
            "c.start_token",
            "c.n_tokens",
            "c.chunk_text",
        )
    )


def vocab_growth(
    df: DataFrame,
    buckets: int = 10,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: documents are ranked by
    ``id_col`` and cut into ``buckets`` equal-count prefixes; for each
    bucket the CUMULATIVE corpus statistics up to and including it —
    ``(bucket, n_docs_cum, n_tokens_cum, vocab_cum)`` — where
    ``vocab_cum`` counts distinct tokens whose FIRST occurrence (minimum
    doc rank) falls at or before the bucket.

    Why a pipeline wants it: sublinear vocabulary growth (Heaps' law) is
    the sanity signature of natural text — a corpus whose curve goes
    linear is id-/hash-/boilerplate-polluted, and the bucket where it
    bends is where ingestion went wrong.

    Scale shape: one shuffle keyed by token (min-rank per token collapses
    map-side), document ranking rides the fact-scale surrogate-id
    machinery (operators/keys.py::surrogate_key dense_global — range
    partition + broadcast offsets, NO single-task window over the ids),
    and the cumulative sum runs over ``buckets`` rows. All integer
    arithmetic; bucket cut is ``(rank-1)·buckets div n_docs``.
    """
    assert buckets >= 1
    from pyspark.sql import Window

    from pharmacodi_spark.operators.keys import surrogate_key

    ids = df.select(F.col(id_col)).distinct()
    n_docs = ids.count()  # one metadata action; plan literal below
    ranked = surrogate_key(
        ids, order_by=[id_col], id_col="__rank", dense_global=True
    ).withColumn(
        "__bucket",
        F.expr(f"((__rank - 1) * {int(buckets)}) div {int(n_docs)}").cast(
            "long"
        ),
    )
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(content_col), " ")).alias("token")
    ).where(F.col("token") != "")
    tb = toks.join(ranked, id_col)
    first_b = tb.groupBy("token").agg(F.min("__bucket").alias("fb"))
    per_bucket = (
        ranked.groupBy("__bucket")
        .agg(F.count("*").alias("n_docs"))
        .join(
            tb.groupBy("__bucket").agg(F.count("*").alias("n_tokens")),
            "__bucket",
            "left",
        )
        .join(
            first_b.groupBy(F.col("fb").alias("__bucket")).agg(
                F.count("*").alias("new_vocab")
            ),
            "__bucket",
            "left",
        )
    )
    w = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        F.col("__bucket").alias("bucket"),
        F.sum("n_docs").over(w).cast("long").alias("n_docs_cum"),
        F.sum(F.coalesce("n_tokens", F.lit(0))).over(w).cast("long").alias(
            "n_tokens_cum"
        ),
        F.sum(F.coalesce("new_vocab", F.lit(0))).over(w).cast("long").alias(
            "vocab_cum"
        ),
    ).orderBy("bucket")


def bigram_surprisal(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Bigram-LM conditional surprisal — one order deeper than
    :func:`unigram_surprisal` (the corpus as a first-order Markov LM):
    each transition ``x→y`` scores ``floor(log2(c(x)·2^20 /
    c(x,y)))`` bits (``-log2 p̂(y|x)``, integer log2 via
    ``length(bin(·))−1`` — exact in every engine); a document reports
    ``(n_transitions, sum_bits, mean_bits)`` over its adjacent pairs.
    Low mean ⇒ high-probability transitions (templated/boilerplate
    text); high mean ⇒ incoherent token order — the two tails a
    perplexity gate cuts. Documents with < 2 tokens report no row (no
    transitions to score), mirroring unigram_surprisal's empty-doc rule.

    Scale shape (r8 sf1 triage): ONE tokenize+explode total — the
    transition stream immediately collapses to per-doc occurrence counts
    ``(id, x, y, n_occ)`` (map-side partials; within-doc Zipf repeats
    compress) and THAT frame is stage-barrier-pinned. The lazy
    composition re-expanded the explode three times (the scoring join,
    the bigram table, and the unigram rollup re-deriving the bigram
    subplan); pinned, the bigram count table is one aggregate of the pin
    (itself pinned — it feeds the unigram rollup AND the scoring join),
    and scoring re-reads pins only. Per-doc sums weight by ``n_occ``, so
    results are identical to per-occurrence scoring. AQE broadcasts the
    count tables when they fit; hot-gram skew splits under the skew-join
    rule; no driver action, no window.
    """
    from pharmacodi_spark.barrier import stage_barrier

    # ``tokens_col`` names a pre-tokenized array column (e.g.
    # ``analysis.unicode_tokens`` for CJK/Thai corpora, where split-on-
    # space collapses a line to ONE token and the transition LM silently
    # degenerates); the default keeps the fixture-oracle contract.
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    # spread a single-split scan before the gram build (no-op at corpus
    # scale, r12 §2.5) — the pin materialization otherwise serializes
    base = spread_small_scan(
        df.select(F.col(id_col), F.col(tokens_col or content_col)), id_col
    ).select(F.col(id_col), toks.alias("__tk"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__tk") - 1),
        lambda i: F.struct(
            F.element_at("__tk", i.cast("int")).alias("x"),
            F.element_at("__tk", (i + 1).cast("int")).alias("y"),
        ),
    )
    occ = stage_barrier(
        base.where(F.size("__tk") >= 2)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.x").alias("x"), F.col("g.y").alias("y"))
        .groupBy(id_col, "x", "y")
        .agg(F.count("*").alias("n_occ")),
        name="bsur_occ",
    )
    c2 = stage_barrier(
        occ.groupBy("x", "y").agg(F.sum("n_occ").alias("c2")),
        name="bsur_c2",
    )
    # unigram counts of the CONDITIONING position (all tokens except each
    # doc's last) = sum of outgoing bigram counts per x
    c1 = c2.groupBy("x").agg(F.sum("c2").alias("c1"))
    scored = (
        occ.join(c2, ["x", "y"])
        .join(c1, "x")
        .select(
            id_col,
            "n_occ",
            # shift-free form (c1 >= c2 >= 1 — prefix count bounds the
            # bigram count), same overflow guard as unigram_surprisal
            (
                F.length(F.bin(F.expr("c1 div c2"))) - 1 + SURPRISAL_SCALE_BITS
            ).alias("bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("n_occ").cast("long").alias("n_transitions"),
        F.sum(F.col("n_occ") * F.col("bits")).cast("long").alias("sum_bits"),
        (
            F.sum(F.col("n_occ") * F.col("bits")) / F.sum("n_occ")
        ).alias("mean_bits"),
    )


def source_signature_terms(
    df: DataFrame,
    k: int = 5,
    group_col: str = "source",
    content_col: str = "text",
) -> DataFrame:
    """Class-TF-IDF signature terms (the BERTopic c-TF-IDF shape): the k
    most DISTINCTIVE terms per origin — high frequency inside the group,
    present in few other groups.  The what-is-this-source-actually-made-of
    table a curation report prints next to the quality rollup (a "news"
    source whose signature terms are casino vocabulary is mislabeled).

    Score = ``tf_group · (il(S) − il(sf))`` where S = number of groups,
    sf = groups containing the term, and ``il`` is the fixed-point integer
    log2 (retrieval.ilog2_fp) — so a term in every group scores exactly 0
    and every engine agrees bit-for-bit.  Ties → lexicographic term.

    Scale shape: the token stream collapses map-side to (group, term)
    counts — the only fact-scale shuffle; group-frequency and the
    per-group top-k ranking run on the vocab-scale count table (second
    shuffle keyed by term, window partitioned by the domain-cardinality
    group)."""
    from pharmacodi_spark.text.retrieval import ilog2_fp

    toks = _tokens(df, content_col, group_col).withColumnRenamed(
        "token", "term"
    )
    tf = toks.groupBy(group_col, "term").agg(F.count("*").alias("tf"))
    sf = tf.groupBy("term").agg(F.count("*").alias("sf"))
    n_groups = df.select(group_col).distinct().count()
    idf = ilog2_fp(F.lit(int(n_groups))) - ilog2_fp(F.col("sf"))
    scored = tf.join(sf, "term").select(
        group_col,
        "term",
        F.col("tf").cast("long").alias("tf"),
        (F.col("tf") * idf).cast("long").alias("ctfidf_fp"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("ctfidf_fp"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def corpus_report(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    lang_col: str = "lang",
    tokens_col: str | None = None,
) -> DataFrame:
    """The data card: one (metric, value) table summarizing a corpus —
    the header block every dataset release ships (sizes, origin/language
    breadth, duplicate and empty rates, mean document length).  All
    metrics are integers (ppm ratios, ×100 fixed-point means) so the card
    is bit-identical on any engine.

    Scale shape: ONE aggregation over the corpus (Spark's multi-distinct
    rewrite handles the three count-distincts via expand — still a single
    pass over the scan), melted to rows with ``stack``; no joins, no
    window, no second scan.

    ``tokens_col`` names a pre-tokenized array column (CJK via
    unicode_tokens): n_tokens / mean_tokens_x100 under-count unspaced
    scripts ~sentence-fold on the whitespace default.
    """
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    agg = df.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length(content_col)).cast("long").alias("n_chars"),
        F.countDistinct(group_col).cast("long").alias("n_sources"),
        F.countDistinct(lang_col).cast("long").alias("n_langs"),
        F.countDistinct(F.md5(F.col(content_col)))
        .cast("long")
        .alias("__nd"),
        F.sum((F.size(toks) == 0).cast("int")).cast("long").alias("__ne"),
    )
    derived = agg.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_sources",
        "n_langs",
        F.expr("((n_docs - __nd) * 1000000) div greatest(n_docs, 1)")
        .cast("long")
        .alias("exact_dup_ppm"),
        F.expr("(__ne * 1000000) div greatest(n_docs, 1)")
        .cast("long")
        .alias("empty_doc_ppm"),
        F.expr("(n_tokens * 100) div greatest(n_docs, 1)")
        .cast("long")
        .alias("mean_tokens_x100"),
    )
    names = [
        "n_docs", "n_tokens", "n_chars", "n_sources", "n_langs",
        "exact_dup_ppm", "empty_doc_ppm", "mean_tokens_x100",
    ]
    stack_expr = ", ".join(f"'{n}', {n}" for n in names)
    return derived.select(
        F.expr(f"stack({len(names)}, {stack_expr}) AS (metric, value)")
    )


def detect_phrases(
    df: DataFrame,
    min_count: int = 2,
    content_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Collocation detection (Mikolov et al. 2013 phrases): score every
    adjacent token pair by ``(c_ab − δ)·N / (c_a·c_b)`` with δ =
    ``min_count`` — pairs scoring above threshold are phrases worth
    merging into single tokens before training ("new york" → "new_york").

    The gate score ≥ 1 is evaluated as the integer cross-multiplication
    ``(c_ab − δ)·N·100 ≥ 100·c_a·c_b`` — engine-exact, no division;
    ``score_fp`` (×100, floor) ships for inspection.

    Scale shape: token/bigram counts collapse map-side (the two
    fact-scale shuffles are keyed by token and pair); N rides as a 1-row
    broadcast aggregate; the score join runs on the Zipf-bounded count
    tables.

    ``tokens_col``: pre-tokenized array seam (CJK via unicode_tokens) —
    whitespace-split sees an unspaced collocation corpus as 1-token docs
    and detects NOTHING."""
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    t = df.select(toks.alias("__tk")).where(F.size("__tk") >= 2)
    pairs = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__tk") - 1),
                lambda i: F.struct(
                    F.element_at("__tk", i.cast("int")).alias("a"),
                    F.element_at("__tk", (i + 1).cast("int")).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    big = pairs.groupBy("a", "b").agg(F.count("*").cast("long").alias("c_ab"))
    n_tot = uni.agg(F.sum("c").alias("n"))
    ca = uni.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    d = int(min_count)
    joined = (
        big.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(n_tot))
        .where(F.col("c_ab") >= d)
    )
    return joined.select(
        "a",
        "b",
        "c_ab",
        "c_a",
        "c_b",
        F.expr(f"((c_ab - {d}) * n * 100) div (c_a * c_b)")
        .cast("long")
        .alias("score_fp"),
        (
            (F.col("c_ab") - d) * F.col("n") * 100
            >= 100 * F.col("c_a") * F.col("c_b")
        ).alias("is_phrase"),
    )


def apply_phrases(
    df: DataFrame,
    phrases: list[tuple[str, str]],
    content_col: str = "text",
    out_col: str = "phrased_text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Merge detected collocations into single tokens, greedy
    left-to-right (each token joins at most one phrase, leftmost-first —
    word2vec's behavior). The phrase set rides as ONE literal map keyed
    ``a + ' ' + b``; the merge is a native ``aggregate`` fold carrying a
    (output-array, pending-token) struct — ZERO shuffles, the corpus
    never leaves its scan partitions."""
    from pharmacodi_spark.functions.scalar import json_array_lit

    # single-node literal (r12, guide §1.2 — see json_array_lit)
    keys = json_array_lit([f"{a} {b}" for a, b in phrases], "array<string>")
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens); the
    # merged output is the token stream space-joined (token space, like
    # strip_source_boilerplate's seam mode)
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("pend"),
    )

    def step(acc, tok):
        pair = F.concat(acc["pend"], F.lit(" "), tok)
        merged = F.array_contains(keys, pair) & (acc["pend"] != "")
        return F.struct(
            F.when(
                merged,
                F.concat(
                    acc["out"],
                    F.array(F.concat(acc["pend"], F.lit("_"), tok)),
                ),
            )
            .when(acc["pend"] == "", acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
            .alias("out"),
            F.when(merged | (acc["pend"] == ""), F.when(merged, F.lit("")).otherwise(tok))
            .otherwise(tok)
            .alias("pend"),
        )

    def fin(acc):
        return F.when(
            acc["pend"] == "", acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))

    merged = F.aggregate(toks, acc0, step, fin)
    return df.withColumn(out_col, F.array_join(merged, " "))


def vocab_coverage(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token-mass coverage by frequency rank — the tokenizer-design /
    vocabulary-sizing curve: one row per DISTINCT corpus frequency level,
    with the cumulative vocabulary size (``cum_terms``) and the fraction of
    all corpus tokens (``coverage_ppm``) covered by keeping every term at
    least that frequent. Reading a row: "a vocab of ``cum_terms`` entries
    covers ``coverage_ppm`` ppm of the running text".

    Scale shape: the corpus collapses to a term-count table (map-side
    combine), which collapses again to a frequency HISTOGRAM — one row per
    distinct count value, O(√tokens) rows by Zipf — and only the histogram
    goes through the ordered cumulative window, so the single-task window
    stage is metadata-scale (same trick as quality_percentile_gate). Ties
    are all-or-nothing per frequency level: no per-term rank, fully
    deterministic. The ppm is floor((cum·10⁶)/total) in doubles — exact
    cross-engine for token counts < 2⁵³ (any real corpus)."""
    counts = (
        _tokens(df, content_col, id_col)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    hist = (
        counts.groupBy("freq")
        .agg(F.count("*").cast("long").alias("n_terms"))
        .withColumn("mass", F.col("freq") * F.col("n_terms"))
    )
    w = Window.orderBy(F.desc("freq")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "freq",
        "n_terms",
        F.sum("n_terms").over(w).cast("long").alias("cum_terms"),
        F.sum("mass").over(w).cast("long").alias("__cum_mass"),
    )
    total = hist.agg(F.sum("mass").cast("long").alias("__total"))
    return cum.join(F.broadcast(total)).select(
        "freq",
        "n_terms",
        "cum_terms",
        F.floor(
            F.col("__cum_mass").cast("double")
            * 1000000.0
            / F.col("__total").cast("double")
        )
        .cast("long")
        .alias("coverage_ppm"),
    )


def ngram_diversity(
    df: DataFrame,
    content_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group bigram type/token ratio — the cross-document diversity
    signal (a source whose crawl is template-stamped repeats the same
    n-grams everywhere and scores a low ``diversity_ppm``; Gopher's
    repetition gates catch this WITHIN a document, this catches it ACROSS
    the group). Output per group: total n-gram occurrences, distinct
    n-grams, and distinct/total in ppm.

    Scale shape: n-grams collapse to md5 hashes before the shuffle (the
    (group, hash) partial-count pairs are fixed-width — gram text never
    moves), then a second map-side-combined agg to one row per group. The
    ppm is a double floor-div, exact cross-engine below 2⁵³ occurrences."""
    grams = df.select(
        F.col(group_col),
        F.explode(ngram_col(content_col, 2)).alias("ngram"),
    )
    per = (
        grams.select(group_col, F.md5("ngram").alias("gh"))
        .groupBy(group_col, "gh")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("distinct_ngrams"),
            F.sum("cnt").cast("long").alias("total_ngrams"),
        )
        .select(
            group_col,
            "distinct_ngrams",
            "total_ngrams",
            F.floor(
                F.col("distinct_ngrams").cast("double")
                * 1000000.0
                / F.col("total_ngrams").cast("double")
            )
            .cast("long")
            .alias("diversity_ppm"),
        )
    )


def stupid_backoff_scores(
    ref: DataFrame,
    scored: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    alpha_fp: int = -1354,
    tokens_col: str | None = None,
) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — THE count-based LM built at
    web scale precisely because it needs no smoothing pass): score each
    document of ``scored`` against n-gram counts from ``ref``:

    - trigram seen:      S = c3(w1w2w3) / c2(w1w2)
    - else bigram seen:  S = α · c2(w2w3) / c1(w2)
    - else:              S = α² · (c1(w3)+1) / N   (+1: unseen-word floor)

    in 10-frac-bit fixed point: ``log2 S = il(a) − il(b) + k·alpha_fp``
    with ``alpha_fp = floor(log2(0.4)·2^10) = −1354`` — all-integer, so
    scores are bit-identical across engines. Per doc:
    ``(n_trigrams, sb_fp = Σ log2 S, n_backoff1, n_backoff2)`` — the
    perplexity gate plus WHERE the mass backed off (a doc scoring mostly
    through α² is out-of-domain or gibberish even if its total looks ok).

    Scale shape: count tables collapse map-side (Zipf-small vs the
    stream); scoring runs per DISTINCT trigram of the scored slice — the
    5 count lookups join a vocabulary-scale table, not the token stream —
    then scores join back to (id, trigram) occurrences and collapse per
    doc. No window, no driver state; join keys are gram strings (swap in
    60-bit hashes off the oracle path to narrow the shuffles).

    The unigram/bigram tables feed 2-3 downstream joins each and the
    occurrence stream feeds two consumers (distinct + score-back) — all
    three are stage-barrier-pinned so the tokenize/explode/count subplans
    run once instead of re-expanding lazily per consumer (unpinned this
    compiled to 18 corpus scans / 16 explodes; pinned: 4).
    """
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.retrieval import ilog2_fp

    def toks(d: DataFrame) -> DataFrame:
        # tokens_col: pre-tokenized array seam (CJK via unicode_tokens);
        # default keeps the split-on-space fixture-oracle contract
        t = (
            F.filter(F.col(tokens_col), lambda x: x != "")
            if tokens_col is not None
            else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
        )
        # NO spread guard here (r12, measured): each gram order's
        # size(__tk) >= n filter pushes BELOW a repartition with the split
        # substituted, so the per-order below-exchange subplans differ and
        # ReuseExchange cannot dedup them — the guard cost 0.3 s at sf0.1
        # while the heavy gram-count mass is already barrier-pinned
        return d.select(F.col(id_col), t.alias("__tk"))

    def grams(d: DataFrame, n: int, out: str) -> DataFrame:
        g = F.transform(
            F.sequence(F.lit(1), F.size("__tk") - (n - 1)),
            lambda i: F.array_join(F.slice("__tk", i, n), " "),
        )
        return (
            d.where(F.size("__tk") >= n)
            .select(F.col(id_col), F.explode(g).alias(out))
        )

    r = toks(ref)
    uni = stage_barrier(
        grams(r, 1, "w").groupBy("w").agg(F.count("*").alias("c1")),
        name="sb_uni",
    )
    bi = stage_barrier(
        grams(r, 2, "b").groupBy("b").agg(F.count("*").alias("c2")),
        name="sb_bi",
    )
    tri = grams(r, 3, "t").groupBy("t").agg(F.count("*").alias("c3"))
    tot = uni.agg(F.sum("c1").alias("n_total"))

    s = toks(scored)
    occ3 = F.transform(
        F.sequence(F.lit(1), F.size("__tk") - 2),
        lambda i: F.struct(
            F.array_join(F.slice("__tk", i, 3), " ").alias("t"),
            F.array_join(F.slice("__tk", i, 2), " ").alias("ctx"),
            F.array_join(F.slice("__tk", i + 1, 2), " ").alias("suf"),
            F.element_at("__tk", (i + 1).cast("int")).alias("w2"),
            F.element_at("__tk", (i + 2).cast("int")).alias("w3"),
        ),
    )
    occ = stage_barrier(
        s.where(F.size("__tk") >= 3)
        .select(F.col(id_col), F.explode(occ3).alias("g"))
        .select(id_col, "g.t", "g.ctx", "g.suf", "g.w2", "g.w3"),
        name="sb_occ",
    )
    dt = occ.select("t", "ctx", "suf", "w2", "w3").distinct()
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2"))
    u3 = uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1w3"))
    b_ctx = bi.select(F.col("b").alias("ctx"), F.col("c2").alias("c2ctx"))
    b_suf = bi.select(F.col("b").alias("suf"), F.col("c2").alias("c2suf"))
    a = F.lit(int(alpha_fp))
    scored_t = (
        dt.join(tri, "t", "left")
        .join(b_ctx, "ctx", "left")
        .join(b_suf, "suf", "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            F.when(
                F.col("c3").isNotNull(),
                ilog2_fp(F.col("c3")) - ilog2_fp(F.col("c2ctx")),
            )
            .when(
                F.col("c2suf").isNotNull(),
                a + ilog2_fp(F.col("c2suf")) - ilog2_fp(F.col("c1w2")),
            )
            .otherwise(
                a * 2
                + ilog2_fp(F.coalesce(F.col("c1w3"), F.lit(0)) + 1)
                - ilog2_fp(F.col("n_total"))
            )
            .cast("long")
            .alias("score_fp"),
            F.when(F.col("c3").isNotNull(), 0)
            .when(F.col("c2suf").isNotNull(), 1)
            .otherwise(2)
            .alias("bo"),
        )
    )
    per_doc = (
        occ.select(id_col, "t")
        .join(scored_t, "t")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum("score_fp").cast("long").alias("sb_fp"),
            F.sum(F.when(F.col("bo") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_backoff1"),
            F.sum(F.when(F.col("bo") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_backoff2"),
        )
    )
    out = scored.select(F.col(id_col)).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        F.coalesce("sb_fp", F.lit(0)).cast("long").alias("sb_fp"),
        F.coalesce("n_backoff1", F.lit(0)).cast("long").alias("n_backoff1"),
        F.coalesce("n_backoff2", F.lit(0)).cast("long").alias("n_backoff2"),
    )


def kneser_ney_scores(
    ref: DataFrame,
    scored: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Kneser–Ney bigram LM scoring (Kneser & Ney 1995; the smoothing step
    up from :func:`stupid_backoff_scores` — VERDICT r6 item 4): absolute
    discounting ``D = 3/4`` (``_KN_DISCOUNT``) with the
    CONTINUATION-count unigram backoff that makes KN the reference
    smoother — a word's backoff mass is how many distinct contexts it
    follows (type count), not how often it occurs (token count), so
    high-frequency-but-context-bound words ("Francisco") stop stealing
    mass from genuinely versatile ones.

    Backoff form (a pure product of rationals, so the whole chain stays in
    the repo's 10-frac-bit integer ``il()`` fixed point — no doubles, no
    int64 overflow for any corpus under 2^59 tokens):

    - pair seen:        log2 P = il(den·c12 − num) − il(den·c1)
    - ctx seen only:    log2 P = il(num·n1p(w1)) − il(den·c1)
                                 + il(ncont(w2) + 1) − il(T + 1)
      (the discounted mass λ(w1) = D·n1p/c1 routed to the continuation
      distribution, add-one floored for never-followed words)
    - ctx unseen:       log2 P = il(ncont(w2) + 1) − il(T + 1)

    where ``c12 = c(w1,w2)``, ``c1 = Σ_w c(w1,w)``, ``n1p(w1) = |{w :
    c(w1,w) > 0}|``, ``ncont(w2) = |{w : c(w,w2) > 0}|``, ``T = distinct
    bigram types``. Per doc: ``(n_bigrams, kn_fp = Σ log2 P, n_backoff,
    n_unseen_ctx)`` — the smoothed perplexity gate plus where the mass
    backed off.

    Scale shape (same topology as stupid_backoff): the bigram count table
    collapses map-side and is stage-barrier-pinned — it feeds FIVE
    consumers (c1/n1p rollup, ncont rollup, T, the scoring join) and would
    otherwise re-expand the tokenize/explode subplan per consumer; the
    continuation counts are the "one extra aggregation per order"
    (vocabulary-scale rollups of the pinned table, no new corpus scan).
    Scoring runs per DISTINCT bigram of the scored slice, then joins back
    to occurrences and collapses per doc. No window, no driver state.
    """
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.retrieval import ilog2_fp

    def toks(d: DataFrame) -> DataFrame:
        # tokens_col: pre-tokenized array seam (CJK via unicode_tokens);
        # default keeps the split-on-space fixture-oracle contract
        t = (
            F.filter(F.col(tokens_col), lambda x: x != "")
            if tokens_col is not None
            else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
        )
        # NO spread guard here (r12, measured): each gram order's
        # size(__tk) >= n filter pushes BELOW a repartition with the split
        # substituted, so the per-order below-exchange subplans differ and
        # ReuseExchange cannot dedup them — the guard cost 0.3 s at sf0.1
        # while the heavy gram-count mass is already barrier-pinned
        return d.select(F.col(id_col), t.alias("__tk"))

    def bigrams(d: DataFrame) -> DataFrame:
        g = F.transform(
            F.sequence(F.lit(1), F.size("__tk") - 1),
            lambda i: F.struct(
                F.element_at("__tk", i.cast("int")).alias("w1"),
                F.element_at("__tk", (i + 1).cast("int")).alias("w2"),
            ),
        )
        return (
            d.where(F.size("__tk") >= 2)
            .select(F.col(id_col), F.explode(g).alias("g"))
            .select(id_col, "g.w1", "g.w2")
        )

    bi = stage_barrier(
        bigrams(toks(ref)).groupBy("w1", "w2").agg(F.count("*").alias("c12")),
        name="kn_bi",
    )
    # the extra continuation-count aggregations — vocabulary-scale rollups
    # of the pinned bigram table, one per order
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p")
    )
    cont = bi.groupBy("w2").agg(F.count("*").alias("ncont"))
    t_types = bi.agg(F.count("*").alias("t_types"))

    occ = stage_barrier(
        bigrams(toks(scored)), name="kn_occ"
    )  # feeds distinct + score-back
    dt = occ.select("w1", "w2").distinct()
    num, den = (F.lit(x) for x in _KN_DISCOUNT)
    scored_b = (
        dt.join(bi, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(t_types))
        .select(
            "w1",
            "w2",
            F.when(
                F.col("c12").isNotNull(),
                ilog2_fp(den * F.col("c12") - num) - ilog2_fp(den * F.col("c1")),
            )
            .when(
                F.col("c1").isNotNull(),
                ilog2_fp(num * F.col("n1p"))
                - ilog2_fp(den * F.col("c1"))
                + ilog2_fp(F.coalesce(F.col("ncont"), F.lit(0)) + 1)
                - ilog2_fp(F.col("t_types") + 1),
            )
            .otherwise(
                ilog2_fp(F.coalesce(F.col("ncont"), F.lit(0)) + 1)
                - ilog2_fp(F.col("t_types") + 1)
            )
            .cast("long")
            .alias("score_fp"),
            F.when(F.col("c12").isNotNull(), 0)
            .when(F.col("c1").isNotNull(), 1)
            .otherwise(2)
            .alias("bo"),
        )
    )
    per_doc = (
        occ.join(scored_b, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("score_fp").cast("long").alias("kn_fp"),
            F.sum(F.when(F.col("bo") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_backoff"),
            F.sum(F.when(F.col("bo") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_unseen_ctx"),
        )
    )
    out = scored.select(F.col(id_col)).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("kn_fp", F.lit(0)).cast("long").alias("kn_fp"),
        F.coalesce("n_backoff", F.lit(0)).cast("long").alias("n_backoff"),
        F.coalesce("n_unseen_ctx", F.lit(0)).cast("long").alias("n_unseen_ctx"),
    )


def kneser_ney3_scores(
    ref: DataFrame,
    scored: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Trigram Kneser–Ney LM scoring (VERDICT r7 item 4) — the standard
    filter-LM order, extending :func:`kneser_ney_scores`'s
    continuation-count topology one order up while staying a pure product
    of rationals inside the 10-frac-bit integer ``il()`` fixed point
    (interpolated KN needs int128 sums; the backoff form does not).

    The key structural move: the MIDDLE order is the bigram-KN machinery
    run on the trigram TYPE table ``D2 = {(w2,w3) → |{w1 : c(w1,w2,w3) >
    0}|}`` — exactly Kneser–Ney's "lower orders see type counts, not
    token counts", with the lowest order the continuation unigram over
    ``D2``. With ``cc23 = |{w1: c123>0}|``, ``cc2 = Σ_w3 cc23``, ``nn2 =
    |{w3: cc23>0}|``, ``ncont(w3) = |{w2: cc23>0}|``, ``T = |D2|``:

    - trigram seen:  log2 P = il(den·c123 − num) − il(den·c12)
    - ctx (w1,w2) seen:  λ12 + log2 P2,  λ12 = il(num·n1p12) − il(den·c12)
    - else:              log2 P2
    - P2 (middle):   cc23 seen → il(den·cc23 − num) − il(den·cc2)
                     w2 seen   → il(num·nn2) − il(den·cc2)
                                 + il(ncont+1) − il(T+1)
                     else      → il(ncont+1) − il(T+1)

    Per doc: ``(n_trigrams, kn3_fp, n_backoff1, n_backoff2, n_unseen)`` —
    hits at the trigram / middle / continuation orders and fully-unseen
    mass.

    Scale shape (same as the bigram form, one order up): the trigram
    count table collapses map-side and is stage-barrier-pinned — it feeds
    FIVE rollups (ctx12, the D2 type table, and through D2: ctx2 /
    continuation / T) that would otherwise each re-expand the
    tokenize/explode subplan; D2 is pinned too (three consumers). Scoring
    runs per DISTINCT trigram of the scored slice, joins back to
    occurrences, collapses per doc. No window, no driver state, int64-safe
    for any corpus under 2^59 tokens (``den·c ≤ 4·c``).
    """
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.retrieval import ilog2_fp

    def toks(d: DataFrame) -> DataFrame:
        # tokens_col: pre-tokenized array seam (CJK via unicode_tokens);
        # default keeps the split-on-space fixture-oracle contract
        t = (
            F.filter(F.col(tokens_col), lambda x: x != "")
            if tokens_col is not None
            else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
        )
        # NO spread guard here (r12, measured): each gram order's
        # size(__tk) >= n filter pushes BELOW a repartition with the split
        # substituted, so the per-order below-exchange subplans differ and
        # ReuseExchange cannot dedup them — the guard cost 0.3 s at sf0.1
        # while the heavy gram-count mass is already barrier-pinned
        return d.select(F.col(id_col), t.alias("__tk"))

    def trigrams(d: DataFrame) -> DataFrame:
        g = F.transform(
            F.sequence(F.lit(1), F.size("__tk") - 2),
            lambda i: F.struct(
                F.element_at("__tk", i.cast("int")).alias("w1"),
                F.element_at("__tk", (i + 1).cast("int")).alias("w2"),
                F.element_at("__tk", (i + 2).cast("int")).alias("w3"),
            ),
        )
        return (
            d.where(F.size("__tk") >= 3)
            .select(F.col(id_col), F.explode(g).alias("g"))
            .select(id_col, "g.w1", "g.w2", "g.w3")
        )

    tri = stage_barrier(
        trigrams(toks(ref))
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c123")),
        name="kn3_tri",
    )
    ctx12 = tri.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count("*").alias("n1p12")
    )
    # the type table: distinct left-extension counts per (w2, w3)
    d2 = stage_barrier(
        tri.groupBy("w2", "w3").agg(F.count("*").alias("cc23")),
        name="kn3_d2",
    )
    ctx2 = d2.groupBy("w2").agg(
        F.sum("cc23").alias("cc2"), F.count("*").alias("nn2")
    )
    cont = d2.groupBy("w3").agg(F.count("*").alias("ncont"))
    tt = d2.agg(F.count("*").alias("t_types"))

    occ = stage_barrier(trigrams(toks(scored)), name="kn3_occ")
    dt = occ.select("w1", "w2", "w3").distinct()
    num, den = (F.lit(x) for x in _KN_DISCOUNT)
    p_cont = ilog2_fp(F.coalesce(F.col("ncont"), F.lit(0)) + 1) - ilog2_fp(
        F.col("t_types") + 1
    )
    p2 = (
        F.when(
            F.col("cc23").isNotNull(),
            ilog2_fp(den * F.col("cc23") - num) - ilog2_fp(den * F.col("cc2")),
        )
        .when(
            F.col("cc2").isNotNull(),
            ilog2_fp(num * F.col("nn2"))
            - ilog2_fp(den * F.col("cc2"))
            + p_cont,
        )
        .otherwise(p_cont)
    )
    lam12 = ilog2_fp(num * F.col("n1p12")) - ilog2_fp(den * F.col("c12"))
    scored_t = (
        dt.join(tri, ["w1", "w2", "w3"], "left")
        .join(ctx12, ["w1", "w2"], "left")
        .join(d2, ["w2", "w3"], "left")
        .join(ctx2, "w2", "left")
        .join(cont, "w3", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "w3",
            F.when(
                F.col("c123").isNotNull(),
                ilog2_fp(den * F.col("c123") - num)
                - ilog2_fp(den * F.col("c12")),
            )
            .when(F.col("c12").isNotNull(), lam12 + p2)
            .otherwise(p2)
            .cast("long")
            .alias("score_fp"),
            F.when(F.col("c123").isNotNull(), 0)
            .when(F.col("cc23").isNotNull(), 1)
            .when(F.col("cc2").isNotNull(), 2)
            .otherwise(3)
            .alias("bo"),
        )
    )
    per_doc = (
        occ.join(scored_t, ["w1", "w2", "w3"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum("score_fp").cast("long").alias("kn3_fp"),
            F.sum(F.when(F.col("bo") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_backoff1"),
            F.sum(F.when(F.col("bo") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_backoff2"),
            F.sum(F.when(F.col("bo") == 3, 1).otherwise(0))
            .cast("long")
            .alias("n_unseen"),
        )
    )
    out = scored.select(F.col(id_col)).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        F.coalesce("kn3_fp", F.lit(0)).cast("long").alias("kn3_fp"),
        F.coalesce("n_backoff1", F.lit(0)).cast("long").alias("n_backoff1"),
        F.coalesce("n_backoff2", F.lit(0)).cast("long").alias("n_backoff2"),
        F.coalesce("n_unseen", F.lit(0)).cast("long").alias("n_unseen"),
    )
