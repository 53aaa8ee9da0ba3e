"""North-star extension queries (SURVEY §7.1 step 7): event-time windows,
dedup (exact + MinHash), document fingerprinting, text analysis, and
similarity search — the operators a 100 TB training-data pipeline needs,
each oracle-checked against DuckDB where expressible.

Cross-engine determinism strategy (see plans/queries.py module docstring):
md5-derived 60-bit integer hashes and integer-quantized vector math, so even
the hash-based operators are value-hash-identical between Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import (
    q,
    _t,
    _md5_long,
    _rnd,
    _SHINGLE_SQL,
    _minhash_sql_select,
)

# ---------------------------------------------------------------------------
# Event-time windows (batch equivalents of the streaming ops — SURVEY §2.11)
# ---------------------------------------------------------------------------


@q(
    "window_tumbling",
    """
    SELECT CAST(epoch_ns(ts) // 600000000000 AS BIGINT) * 600 AS bucket_start,
           event_type,
           count(*) AS n_events,
           floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time window aggregate — the batch twin of the
    Structured Streaming ``window(ts, '10 minutes')`` op
    (pharmacodi_spark.streaming). ``ts`` reads as epoch-nanos LONG
    (nanosAsLong); buckets are pure integer division — engine-neutral, no
    timezone surface at all."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bucket_start",
            (F.expr("ts div 600000000000") * 600).cast("long"),
        )
        .groupBy("bucket_start", "event_type")
        .agg(F.count("*").alias("n_events"), _rnd(F.sum("value"), 2).alias("sum_value"))
    )


@q(
    "sessionization",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN (epoch_ns(ts) // 1000) - lag(epoch_ns(ts) // 1000) OVER w
                        > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (30 min) — the window-function
    twin of ``session_window`` (SURVEY §2.5 note: the events fixture is the
    designated surface). Gap compare AND window ordering in truncated integer
    microseconds on both sides (Spark reads full nanos, DuckDB µs — ordering
    by raw values could disagree within a microsecond)."""
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts div 1000")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag(us).over(w).isNull(), 1
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Deduplication (north star: exact + MinHash)
# ---------------------------------------------------------------------------


@q(
    "exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id per hash.
    md5 hex output is identical in Spark and DuckDB → oracle-checkable.
    At 100 TB: grouping on the 32-char hash (not the document body) keeps
    shuffle rows tiny; map-side partial agg collapses per-partition dups
    before the exchange."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1024 AS shard
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 60-bit integer content fingerprint + shard
    assignment — the partition-routing primitive for dedup at scale (route
    by fingerprint % N, then dedupe within shards with zero cross-shard
    traffic)."""
    d = _t(spark, sf_dir, "documents")
    fp = _md5_long(F.col("text"))
    return d.select(
        "doc_id", fp.alias("fingerprint"), (fp % 1024).alias("shard")
    )


@q(
    "minhash_signature",
    f"""
    SELECT doc_id,
           {_minhash_sql_select(4)}
    FROM ({_SHINGLE_SQL})
    GROUP BY doc_id
    """,
)
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=4) over 5-gram word shingles. Hash families are
    sliced from one md5 per shingle → bit-identical in DuckDB — a fully
    oracle-checked MinHash, not a rows-only approximation. 5-gram (not
    unigram) shingles matter: the fixture corpus has a ~30-word vocabulary,
    so unigram sets are near-identical across ALL documents and LSH buckets
    degenerate to quadratic blowup; 5-grams are discriminative. One explode +
    one groupBy: the shuffle carries (doc_id, 4 longs), not shingle text."""
    from pharmacodi_spark.text.dedup import md5_signature

    return md5_signature(_t(spark, sf_dir, "documents"))


@q(
    "minhash_band_pairs",
    f"""
    WITH sig AS (
      SELECT doc_id,
             {_minhash_sql_select(4)}
      FROM ({_SHINGLE_SQL})
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the k=4 signature into 2 bands of 2
    rows and emit the distinct ordered pairs sharing a (band, values)
    bucket — the scale path for near-dedup (shingle→minhash→band→bucket).
    The bucket key is (band, two longs): cardinality-bounded buckets
    instead of an all-pairs comparison (5-gram shingles keep buckets small
    — see minhash_signature). The oracle self-joins the bands; the engine
    expands pairs inside each bucket under the triangle hot-cell guard
    (text/dedup.py::md5_band_pairs)."""
    from pharmacodi_spark.text.dedup import md5_band_pairs, md5_signature

    return md5_band_pairs(md5_signature(_t(spark, sf_dir, "documents")))


@q(
    "jaccard_pairs",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 300
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           floor((CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)) * 10000 + 0.5) / 10000 AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.9
    """,
)
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup (unigram token sets, bounded to doc_id < 300
    so the quadratic check stays a *verification* tool — the scale path is
    minhash_band_pairs; this is its exact-Jaccard referee). Integer
    intersection/union counts → one exact double division, identical in
    both engines."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, on="token")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.9)
        .select("doc_a", "doc_b", _rnd(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Text analysis (north star)
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


@q(
    "text_stats",
    """
    SELECT doc_id, lang, n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           floor((CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) * 10000 + 0.5) / 10000
             AS chars_per_token
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features (length ratios) — whitespace
    tokenizer, all native expressions inside one codegen stage."""
    d = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tokens.alias("n_tokens"),
        _rnd(F.col("n_chars").cast("double") / n_tokens, 4).alias("chars_per_token"),
    )


@q(
    "lang_stopword_score",
    f"""
    SELECT doc_id, lang,
           CAST(sum(CASE WHEN token IN ({", ".join(repr(s) for s in _STOPWORDS)})
                         THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits,
           count(*) AS n_tokens,
           floor((CAST(sum(CASE WHEN token IN ({", ".join(repr(s) for s in _STOPWORDS)})
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000
             AS stop_ratio
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY doc_id, lang
    """,
)
def lang_stopword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stopword hit-rate per document (the
    n-gram/stopword scoring family; ratio ≥ threshold ⇒ classify). Integer
    hit counts → exact double ratio."""
    d = _t(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    hit = F.col("token").isin(_STOPWORDS).cast("int")
    return tokens.groupBy("doc_id", "lang").agg(
        F.sum(hit).cast("long").alias("stop_hits"),
        F.count("*").alias("n_tokens"),
        _rnd(F.sum(hit).cast("double") / F.count("*"), 4).alias("stop_ratio"),
    )


# ---------------------------------------------------------------------------
# Similarity search (north star)
# ---------------------------------------------------------------------------

# deterministic 64-dim integer query vector: w[pos] = ((pos * 7) % 13) - 6,
# pos 1-based — reproducible in pure SQL, no literal table needed.


@q(
    "ann_dot_topk",
    """
    WITH unnested AS (
      SELECT vec_id,
             CAST(floor((CAST(unnest(embedding) AS DOUBLE) * 10000) + 0.5) AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    dots AS (
      SELECT vec_id,
             CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS dot
      FROM unnested GROUP BY vec_id
    )
    SELECT vec_id, dot FROM dots
    ORDER BY dot DESC, vec_id LIMIT 20
    """,
)
def ann_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k similarity vs a deterministic query vector.

    Embeddings are quantized to integers (floor((x*10000) + 0.5)) and dotted against
    an integer weight vector derived from the position — ALL-integer math, so
    Spark and DuckDB agree bit-for-bit (float accumulation order can't).
    posexplode + groupBy keeps everything JVM-side; tie-break on vec_id makes
    top-k membership deterministic. The IVF/LSH-bucketed variant lives in
    pharmacodi_spark.text.similarity; this is its exact referee."""
    e = _t(spark, sf_dir, "embeddings")
    un = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
        (F.col("pos0") + 1).alias("pos"),
    )
    dots = un.groupBy("vec_id").agg(
        F.sum(F.col("qv") * (((F.col("pos") * 7) % 13) - 6)).cast("long").alias("dot")
    )
    return dots.orderBy(F.col("dot").desc(), F.col("vec_id")).limit(20)


@q(
    "ann_cosine_bucketed",
    """
    WITH unnested AS (
      SELECT vec_id, label,
             CAST(floor((CAST(unnest(embedding) AS DOUBLE) * 10000) + 0.5) AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    stats AS (
      SELECT vec_id, label,
             CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS dot,
             CAST(sum(qv * qv) AS BIGINT) AS norm_sq
      FROM unnested GROUP BY vec_id, label
    )
    SELECT label,
           CAST(max(dot) AS BIGINT) AS best_dot,
           CAST(min(norm_sq) AS BIGINT) AS min_norm_sq,
           count(*) AS n_vectors
    FROM stats GROUP BY label
    """,
)
def ann_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketed scan: per-label (= coarse partition) similarity
    stats — the probe pattern of an inverted-file index (search only selected
    buckets). Demonstrates partition-pruned similarity search; integer math
    as in ann_dot_topk."""
    e = _t(spark, sf_dir, "embeddings")
    un = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        "label",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
        (F.col("pos0") + 1).alias("pos"),
    )
    stats = un.groupBy("vec_id", "label").agg(
        F.sum(F.col("qv") * (((F.col("pos") * 7) % 13) - 6)).cast("long").alias("dot"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("norm_sq"),
    )
    return stats.groupBy("label").agg(
        F.max("dot").cast("long").alias("best_dot"),
        F.min("norm_sq").cast("long").alias("min_norm_sq"),
        F.count("*").alias("n_vectors"),
    )
