"""Corpus-statistics rows: idf, n-grams, phrases, vocabulary curves (text/corpus)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import fan_out
from pharmacodi_spark.plans.queries import q, _t, _il


# ---------------------------------------------------------------------------
# Corpus-level text stats (text/corpus.py): IDF, TF-IDF top terms, n-grams
# ---------------------------------------------------------------------------

_TOKS_SQL = """
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
            FROM documents)
      WHERE token != ''
"""


@q(
    "corpus_idf",
    f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df_count FROM tf GROUP BY token)
    SELECT token, df_count,
           CAST((SELECT count(*) FROM documents) AS DOUBLE) / df_count AS idf_ratio
    FROM dfreq
    """,
)
def corpus_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table (text/corpus.py::doc_frequency) with
    the exact N/df ratio (integer division is correctly rounded IEEE — the
    ln() form lives in idf_table and is pytest-covered; libm ln is not
    bit-portable across engines, ratios are). Shuffles carry (token, count)
    pairs collapsed map-side, never bodies."""
    from pharmacodi_spark.text.corpus import doc_frequency

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    return doc_frequency(fan_out(d, "doc_id")).withColumn(
        "idf_ratio", F.lit(float(n)) / F.col("df_count")
    )


@q(
    "tfidf_top_terms",
    f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df_count FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.token, t.tf,
             t.tf * (((SELECT count(*) FROM documents) * 1000000) // d.df_count)
               AS score
      FROM tf t JOIN dfreq d ON t.token = d.token
    )
    SELECT doc_id, token, tf, CAST(score AS BIGINT) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (text/corpus.py::tfidf_top_terms)
    with an integer-quantized idf (N·10⁶ div df — exact in both engines;
    the ln() production formula is injected via idf_fn and pytest-covered).
    Broadcast idf join + per-doc window: no global single-task stage."""
    from pharmacodi_spark.text.corpus import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")

    def int_idf(n_docs, df_count):
        # cast BEFORE multiplying: n_docs * 10^6 overflows 32-bit int at
        # corpus sizes ≥ ~2150 docs under ANSI arithmetic
        return F.expr(f"(CAST({n_docs} AS BIGINT) * 1000000) div df_count")

    out = tfidf_top_terms(fan_out(d, "doc_id"), idf_fn=int_idf)
    return out.select(
        "doc_id", "token", "tf", F.col("score").cast("long").alias("score")
    )


@q(
    "ngram_topk",
    """
    WITH toks AS (SELECT string_split_regex(text, '\\s+') AS t FROM documents),
    idx AS (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            FROM toks),
    grams AS (SELECT array_to_string(t[i:i+1], ' ') AS ngram FROM idx),
    counts AS (SELECT ngram, count(*) AS n_occurrences FROM grams GROUP BY ngram)
    SELECT ngram, n_occurrences FROM counts
    ORDER BY n_occurrences DESC, ngram LIMIT 20
    """,
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams (text/corpus.py::top_ngrams): native
    transform/slice n-gram expansion, map-side partial counts, and a
    TakeOrderedAndProject top-k — the n-gram frequency/contamination-check
    primitive. Ties broken lexicographically so the cut is deterministic."""
    from pharmacodi_spark.text.corpus import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(fan_out(d, "doc_id"), k=20)


@q(
    "document_chunks",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 32 THEN 0
                    ELSE (len(toks) - 32 + 23) // 24 END)) AS j
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(j AS BIGINT) AS chunk_id,
           CAST(j * 24 + 1 AS BIGINT) AS start_token,
           CAST(least(n - j * 24, 32) AS BIGINT) AS n_tokens,
           array_to_string(toks[j * 24 + 1 : j * 24 + 32], ' ') AS chunk_text
    FROM c
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks (text/corpus.py::chunk_documents,
    32-token chunks / 8-token overlap at fixture scale) — the corpus →
    RAG-index preparation step. Chunk boundaries are the all-integer
    closed form (final chunk = first to reach the document end, no
    contained tails); the plan is shuffle-free — tokens split once into
    an array column, chunks are slice+join over it, one explode."""
    from pharmacodi_spark.text.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


@q(
    "vocab_growth_curve",
    """
    WITH ids AS (SELECT DISTINCT doc_id FROM documents),
    n AS (SELECT count(*) AS nd FROM ids),
    rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r FROM ids),
    b AS (
      SELECT doc_id, ((r - 1) * 10) // (SELECT nd FROM n) AS bucket FROM rk
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    tb AS (SELECT tok.token, b.bucket, tok.doc_id FROM tok JOIN b USING (doc_id)),
    fb AS (SELECT token, min(bucket) AS fb FROM tb GROUP BY 1),
    pd AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY 1),
    pt AS (SELECT bucket, count(*) AS n_tokens FROM tb GROUP BY 1),
    pv AS (SELECT fb AS bucket, count(*) AS new_vocab FROM fb GROUP BY 1)
    SELECT CAST(pd.bucket AS BIGINT) AS bucket,
           CAST(sum(pd.n_docs) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs_cum,
           CAST(sum(coalesce(pt.n_tokens, 0)) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens_cum,
           CAST(sum(coalesce(pv.new_vocab, 0)) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
    FROM pd LEFT JOIN pt USING (bucket) LEFT JOIN pv USING (bucket)
    ORDER BY bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth (text/corpus.py::vocab_growth, 10
    buckets): cumulative distinct-token count over ascending doc-id
    prefixes — the is-this-natural-text sanity curve (linear growth ⇒
    id/hash pollution; the bend locates the bad ingest). Doc ranking
    rides the fact-scale surrogate-id topology (no single-task window);
    the only corpus-scale shuffle is keyed by token with map-side min
    collapse."""
    from pharmacodi_spark.text.corpus import vocab_growth

    d = _t(spark, sf_dir, "documents")
    return vocab_growth(d, buckets=10)


# ---------------------------------------------------------------------------
# Source signatures (text/corpus.py) — corpus understanding
# ---------------------------------------------------------------------------


@q(
    "source_signature_terms",
    f"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term
      FROM documents
    ),
    tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    sfq AS (SELECT term, count(*) AS sf FROM tf GROUP BY 1),
    ng AS (SELECT count(DISTINCT source) AS s FROM documents),
    scored AS (
      SELECT tf.source, tf.term, CAST(tf.tf AS BIGINT) AS tf,
             CAST(tf.tf * ({_il("ng.s")} - {_il("sfq.sf")}) AS BIGINT)
               AS ctfidf_fp
      FROM tf JOIN sfq USING (term), ng
    )
    SELECT source, term, tf, ctfidf_fp, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY ctfidf_fp DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def source_signature_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF signature terms per source (text/corpus.py::
    source_signature_terms, BERTopic shape): top-5 most distinctive terms
    per origin under tf·(il(S)−il(sf)) fixed-point scoring — terms in
    every source score exactly 0. Token stream collapses map-side to
    (source, term) counts; ranking runs on the vocab-scale table."""
    from pharmacodi_spark.text.corpus import source_signature_terms

    d = _t(spark, sf_dir, "documents")
    return source_signature_terms(d, k=5)


# ---------------------------------------------------------------------------
# Corpus data card (text/corpus.py::corpus_report)
# ---------------------------------------------------------------------------


@q(
    "corpus_report",
    """
    WITH t AS (
      SELECT doc_id, source, lang, text,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
      FROM documents
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(length(text)) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS nd,
             CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ne
      FROM t
    )
    SELECT metric, value FROM (
      SELECT 'n_docs' AS metric, n_docs AS value FROM a
      UNION ALL SELECT 'n_tokens', n_tokens FROM a
      UNION ALL SELECT 'n_chars', n_chars FROM a
      UNION ALL SELECT 'n_sources', n_sources FROM a
      UNION ALL SELECT 'n_langs', n_langs FROM a
      UNION ALL SELECT 'exact_dup_ppm',
        ((n_docs - nd) * 1000000) // greatest(n_docs, 1) FROM a
      UNION ALL SELECT 'empty_doc_ppm',
        (ne * 1000000) // greatest(n_docs, 1) FROM a
      UNION ALL SELECT 'mean_tokens_x100',
        (n_tokens * 100) // greatest(n_docs, 1) FROM a
    )
    """,
)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card (text/corpus.py::corpus_report): one (metric, value)
    header block — sizes, origin/language breadth, duplicate and empty
    rates, ×100 mean length — in ONE corpus pass (multi-distinct via
    Spark's expand rewrite), melted with stack. Integer metrics only."""
    from pharmacodi_spark.text.corpus import corpus_report

    d = _t(spark, sf_dir, "documents")
    return corpus_report(d)


# ---------------------------------------------------------------------------
# Collocation detection (text/corpus.py::detect_phrases / apply_phrases)
# ---------------------------------------------------------------------------


@q(
    "phrase_detection",
    """
    WITH t AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> {'a': toks[i], 'b': toks[i+1]})) AS p
      FROM t WHERE len(toks) >= 2
    ),
    big AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS c_ab
            FROM pairs GROUP BY 1, 2),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        (SELECT unnest(toks) AS w FROM t) GROUP BY 1
    ),
    n_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
    SELECT big.a, big.b, big.c_ab,
           ua.c AS c_a, ub.c AS c_b,
           CAST(((big.c_ab - 5) * n_tot.n * 100) // (ua.c * ub.c) AS BIGINT)
             AS score_fp,
           ((big.c_ab - 5) * n_tot.n * 100 >= 100 * ua.c * ub.c)
             AS is_phrase
    FROM big
    JOIN uni ua ON big.a = ua.w
    JOIN uni ub ON big.b = ub.w
    CROSS JOIN n_tot
    WHERE big.c_ab >= 5
    """,
)
def phrase_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (text/corpus.py::detect_phrases, Mikolov
    phrases): adjacent-pair score (c_ab−δ)·N/(c_a·c_b) as an integer
    cross-multiplied gate (δ = min_count = 5, threshold 1.0) — the merge
    list for phrase-aware tokenization. Counts collapse map-side; the
    score join runs on Zipf-bounded tables; N is a 1-row broadcast."""
    from pharmacodi_spark.text.corpus import detect_phrases

    d = _t(spark, sf_dir, "documents")
    return detect_phrases(d, min_count=5)


# ---------------------------------------------------------------------------
# Vocabulary coverage and cross-doc diversity
# ---------------------------------------------------------------------------


@q(
    "vocab_coverage_curve",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS freq FROM toks
               WHERE token <> '' GROUP BY token),
    hist AS (SELECT freq, CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(freq * count(*) AS BIGINT) AS mass
             FROM counts GROUP BY freq),
    cum AS (SELECT freq, n_terms,
                   CAST(sum(n_terms) OVER w AS BIGINT) AS cum_terms,
                   CAST(sum(mass) OVER w AS BIGINT) AS cum_mass
            FROM hist
            WINDOW w AS (ORDER BY freq DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM hist)
    SELECT freq, n_terms, cum_terms,
           CAST(floor(CAST(cum_mass AS DOUBLE) * 1000000.0
                      / CAST(total AS DOUBLE)) AS BIGINT) AS coverage_ppm
    FROM cum, t
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage by frequency rank (text/corpus.py::
    vocab_coverage): the vocabulary-sizing curve — keep every term with
    count ≥ freq and you hold cum_terms vocab entries covering coverage_ppm
    of the running text. The ordered cumulative window runs on the
    frequency HISTOGRAM (one row per distinct count — O(√tokens) by Zipf),
    not the term table, so the oracle's global window is metadata-scale in
    the engine; the corpus itself sees one map-side-combined count."""
    from pharmacodi_spark.text.corpus import vocab_coverage

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(fan_out(d, "doc_id"))


@q(
    "ngram_diversity",
    r"""
    WITH toks AS (SELECT source, string_split_regex(text, '\s+') AS t
                  FROM documents),
    idx AS (SELECT source, t,
                   unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            FROM toks),
    grams AS (SELECT source, array_to_string(t[i:i+1], ' ') AS ngram FROM idx),
    per AS (SELECT source, ngram, count(*) AS cnt
            FROM grams GROUP BY source, ngram)
    SELECT source,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           CAST(sum(cnt) AS BIGINT) AS total_ngrams,
           CAST(floor(CAST(count(*) AS DOUBLE) * 1000000.0
                      / CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS diversity_ppm
    FROM per GROUP BY source
    """,
)
def ngram_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram type/token ratio (text/corpus.py::
    ngram_diversity): the ACROSS-document template-stamping detector
    (Gopher's gates are within-doc; a mirror-heavy or boilerplate source
    repeats the same n-grams corpus-wide and scores a low diversity_ppm).
    Grams collapse to md5 before the shuffle — the oracle re-derives by
    gram string, identical grouping (same contract as repeated_spans)."""
    from pharmacodi_spark.text.corpus import ngram_diversity

    d = _t(spark, sf_dir, "documents")
    return ngram_diversity(fan_out(d, "doc_id"))
