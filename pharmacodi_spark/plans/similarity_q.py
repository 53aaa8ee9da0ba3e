"""ANN, projection and retrieval rows (text/similarity, text/retrieval)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import q, _t, _rnd
from pharmacodi_spark.text.retrieval import ndcg_discounts


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


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup family; scale path: text/similarity.py LSH)
# ---------------------------------------------------------------------------


@q(
    "embedding_near_dup",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2 FROM un GROUP BY vec_id)
    SELECT d.vec_a, d.vec_b,
           floor((CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS cosine
    FROM dots d
    JOIN norms na ON d.vec_a = na.vec_id
    JOIN norms nb ON d.vec_b = nb.vec_id
    WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.3
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.3), all-integer dot/norm
    math → one exact double division per pair, bit-identical across engines.
    Bounded to vec_id < 200: the quadratic all-pairs form is the *referee*;
    the scale path is hyperplane-LSH bucketing (text/similarity.py::
    lsh_bucket_topk) where only within-bucket pairs are scored."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    un = e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        "pos",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
    )
    a, b = un.alias("a"), un.alias("b")
    dots = (
        a.join(b, on="pos")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).cast("long").alias("dot"))
    )
    norms = un.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("n2")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cosine = F.col("dot").cast("double") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    return (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .where(cosine >= 0.3)
        .select("vec_a", "vec_b", _rnd(cosine, 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index: assign → probe → score), driver-gated
# ---------------------------------------------------------------------------


@q(
    "ann_ivf_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q WHERE vec_id < 8),
    dists AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(list_zip(q.qe, c.cqe),
                                     s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
      FROM q CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qvec AS (SELECT qe AS qq FROM q WHERE vec_id = 42),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               list_sum(list_transform(list_zip(c.cqe, v.qq),
                                       s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
        FROM cents c CROSS JOIN qvec v
      ) ORDER BY d2, cid LIMIT 2
    )
    SELECT a.vec_id,
           CAST(list_sum(list_transform(list_zip(q.qe, v.qq), s -> s[1]*s[2]))
                AS BIGINT) AS dot,
           CAST(a.cid AS BIGINT) AS centroid_id
    FROM assign a
    JOIN q ON a.vec_id = q.vec_id
    CROSS JOIN qvec v
    WHERE a.cid IN (SELECT cid FROM probe)
    ORDER BY dot DESC, a.vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end under the oracle gate (text/similarity.py::
    ivf_assign + ivf_topk): quantize embeddings to integer-valued doubles
    (exact in both engines regardless of accumulation order, since every
    intermediate stays < 2^53), build a deterministic coarse quantizer from
    the first 8 corpus vectors (the SQL-reproducible stand-in for the
    k-means|| production path, train_ivf_centroids — pytest-covered), assign
    via native argmin (array_min over (d2, idx) structs), probe the 2
    centroids nearest the fixed query vector (vec_id 42), and return the
    exact dot-product top-10 within the probed cells. The centroid filter is
    a pushable predicate — partitioned-by-centroid storage prunes cells."""
    from pharmacodi_spark.text.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    # index metadata: 8 seed-doc centroids + the probe vector (driver-side
    # by design — an ANN coarse quantizer is a few KB, not dataflow)
    seed_rows = qe.where(F.col("vec_id") < 8).collect()
    centroids = [list(r.qe) for r in sorted(seed_rows, key=lambda r: r.vec_id)]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = ivf_topk(
        qe, centroids, query, k=10, nprobe=2, vec_col="qe", metric="dot"
    )
    return out.select(
        "vec_id",
        F.col("dot").cast("long").alias("dot"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    )


@q(
    "ann_pq_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, u.m, qe[u.m*16+1:(u.m+1)*16] AS sv
      FROM q, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    cb AS (SELECT m, vec_id AS k, sv AS csv FROM sub WHERE vec_id < 8),
    enc AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(list_zip(s.sv, c.csv),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.k) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    qsub AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = 42),
    tab AS (
      SELECT c.m, c.k,
             list_sum(list_transform(list_zip(v.qsv, c.csv),
                                     z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2q
      FROM cb c JOIN qsub v ON c.m = v.m
    ),
    adc AS (
      SELECT e.vec_id, sum(t.d2q) AS d2_adc
      FROM enc e JOIN tab t ON e.m = t.m AND e.k = t.k
      GROUP BY e.vec_id
    )
    SELECT vec_id, CAST(d2_adc AS BIGINT) AS d2_adc
    FROM adc ORDER BY d2_adc, vec_id LIMIT 10
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the oracle gate (text/similarity.py::
    pq_encode + pq_adc_topk, M=4 subspaces × K=8 codes over 64-dim
    integer-quantized embeddings): codes = per-subspace squared-L2 argmin
    against a deterministic codebook built from the first 8 corpus vectors
    (SQL-reproducible stand-in for the per-subspace k-means|| production
    path, train_pq_codebooks — pytest-covered); the probe sums M
    driver-precomputed table lookups per row (asymmetric distance), never
    touching the original vectors. Every distance is an exact integer-valued
    double < 2^53, so ranking matches DuckDB bit-for-bit."""
    from pharmacodi_spark.text.similarity import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    seed_rows = qe.where(F.col("vec_id") < 8).collect()
    dsub = 64 // 4
    codebooks = [
        [
            list(r.qe[m * dsub : (m + 1) * dsub])
            for r in sorted(seed_rows, key=lambda r: r.vec_id)
        ]
        for m in range(4)
    ]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = pq_adc_topk(qe, codebooks, query, k=10, vec_col="qe")
    return out.select("vec_id", F.col("d2_adc").cast("long").alias("d2_adc"))


@q(
    "ann_ivf_pq_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(list_zip(q.qe, c.cqe),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.cid) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qvec AS (SELECT qe AS qq FROM q WHERE vec_id = 42),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               list_sum(list_transform(list_zip(c.cqe, v.qq),
                                       z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
        FROM cents c CROSS JOIN qvec v
      ) ORDER BY d2, cid LIMIT 2
    ),
    cand AS (
      SELECT q.vec_id, q.qe FROM q JOIN assign a ON q.vec_id = a.vec_id
      WHERE a.cid IN (SELECT cid FROM probe)
    ),
    cb AS (
      SELECT u.m, vec_id AS k, qe[u.m*16+1:(u.m+1)*16] AS csv
      FROM q, UNNEST(generate_series(0, 3)) AS u(m) WHERE vec_id < 8
    ),
    sub AS (
      SELECT vec_id, u.m, qe[u.m*16+1:(u.m+1)*16] AS sv
      FROM cand, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    enc AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(list_zip(s.sv, c.csv),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.k) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT u.m, qq[u.m*16+1:(u.m+1)*16] AS qsv
      FROM qvec, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    tab AS (
      SELECT c.m, c.k,
             list_sum(list_transform(list_zip(v.qsv, c.csv),
                                     z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2q
      FROM cb c JOIN qsub v ON c.m = v.m
    ),
    short AS (
      SELECT e.vec_id FROM enc e JOIN tab t ON e.m = t.m AND e.k = t.k
      GROUP BY e.vec_id ORDER BY sum(t.d2q), e.vec_id LIMIT 50
    )
    SELECT q.vec_id,
           CAST(list_sum(list_transform(list_zip(q.qe, v.qq),
                                        z -> z[1]*z[2])) AS BIGINT) AS dot
    FROM q JOIN short USING (vec_id) CROSS JOIN qvec v
    ORDER BY dot DESC, q.vec_id LIMIT 10
    """,
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank (text/similarity.py::ivf_pq_topk) — the
    full production ANN pipeline under one oracle: IVF coarse prune to 2 of
    8 cells → PQ asymmetric-distance shortlist of 50 from codes alone →
    exact dot-product top-10 on just the shortlist's vectors. Same seed
    centroids/codebooks as ann_ivf_topk / ann_pq_topk (first 8 corpus
    vectors), every stage integer-exact and tie-broken on id, so the whole
    three-stage cascade matches DuckDB bit-for-bit."""
    from pharmacodi_spark.text.similarity import ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    seed_rows = sorted(
        qe.where(F.col("vec_id") < 8).collect(), key=lambda r: r.vec_id
    )
    centroids = [list(r.qe) for r in seed_rows]
    dsub = 64 // 4
    codebooks = [
        [list(r.qe[m * dsub : (m + 1) * dsub]) for r in seed_rows]
        for m in range(4)
    ]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = ivf_pq_topk(
        qe, centroids, codebooks, query, k=10, shortlist=50,
        vec_col="qe",
    )
    return out.select("vec_id", F.col("dot").cast("long").alias("dot"))


# ---------------------------------------------------------------------------
# Round-5 continuation: retrieval ranking, int8 ANN
# ---------------------------------------------------------------------------


@q(
    "bm25_topk",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens FROM tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('table', 'scan', 'window', 'merge') GROUP BY 1, 2),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    j AS (
      SELECT tf.doc_id, tf.tf, dft.df, dl.dl,
             (SELECT t_tokens FROM tot) AS t_tokens,
             (SELECT n_docs FROM nd) AS n_docs
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id)
    ),
    terms AS (
      SELECT doc_id,
             greatest(CAST(((2 * n_docs + 2) * 1024) // (2 * df + 1)
                           AS BIGINT), 1) AS x,
             CAST((22 * tf * t_tokens * 1024)
                  // (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)
                  AS BIGINT) AS tfn
      FROM j
    ),
    scored AS (
      SELECT doc_id,
             ((((length(bin(x)) - 1) * 1024)
               + (((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 1024)
                  >> (length(bin(x)) - 1)))
              - 10240) * tfn AS term_score
      FROM terms
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_terms,
           CAST(sum(term_score) AS BIGINT) AS score_fp
    FROM scored GROUP BY 1
    ORDER BY score_fp DESC, doc_id LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point BM25 top-20 for a 4-term query (text/retrieval.py::
    bm25_scores, k1=1.2 b=0.75, Lucene non-negative idf).  The idf log2
    is integer fixed-point (length(bin)·shift mantissa interpolation —
    bit-identical in both engines, the unigram_surprisal trick at 10
    fractional bits, retrieval.py::ilog2_fp); the tf
    normalization clears k1/b/avgdl fractions by cross-multiplying with
    10·T.  Token stream collapses map-side; df table and corpus totals
    broadcast; deterministic (score desc, doc_id) top-k."""
    from pharmacodi_spark.text.retrieval import bm25_scores

    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d, ["table", "scan", "window", "merge"], k=20)


@q(
    "ann_int8_topk",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS ma
      FROM embeddings
    ),
    un0 AS (
      SELECT vec_id, ma,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM m
    ),
    un AS (
      SELECT vec_id, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS qv
      FROM un0
    ),
    dots AS (
      SELECT vec_id, CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM un GROUP BY 1
    )
    SELECT vec_id, qdot FROM dots ORDER BY qdot DESC, vec_id LIMIT 20
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity probe (text/similarity.py::
    int8_weighted_topk): per-vector symmetric quantization q=floor(x·127/
    max_abs+0.5) — only correctly-rounded IEEE ops, so the codes are
    bit-identical across engines — then an all-integer dot against the
    deterministic query vector of ann_dot_topk.  The Spark side is
    shuffle-free (transform/aggregate + TakeOrderedAndProject; the oracle's
    unnest+group is the same math).  Codes are 1 B/dim vs 4 B/dim floats:
    the 4×-smaller scan is the quantized-index scale story."""
    from pharmacodi_spark.text.similarity import int8_weighted_topk

    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return int8_weighted_topk(e, weights, k=20)


@q(
    "ann_int8_l2_topk",
    """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (a, b) -> a + b)) AS nrm
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id,
             CASE WHEN nrm = 0
                  THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
             END AS e
      FROM n
    ),
    m AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma
      FROM nv
    ),
    un AS (
      SELECT vec_id, ma, unnest(e) AS v, generate_subscripts(e, 1) AS pos
      FROM m
    ),
    qv AS (
      SELECT vec_id, ma, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS q
      FROM un
    ),
    dots AS (
      SELECT vec_id, any_value(ma) AS ma,
             CAST(sum(q * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM qv GROUP BY 1
    )
    SELECT vec_id, CAST(qdot AS DOUBLE) * ma AS score
    FROM dots ORDER BY score DESC, vec_id LIMIT 20
    """,
)
def ann_int8_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-exact variant of the int8 probe (VERDICT r5 item 3;
    text/similarity.py::int8_weighted_topk with ``l2_normalize=True``):
    vectors are divided by their l2 norm BEFORE max-abs coding — the codes
    are mathematically unchanged (the norm cancels in x·127/max|x|) but
    ``q_scale`` becomes the unit vector's max-abs, so the de-scaled score
    ``qdot·q_scale`` ranks by cosine up to 8-bit rounding instead of by
    dot/max_abs.  Exactness: sum-of-squares is a left fold (same order in
    Spark's F.aggregate and DuckDB's list_reduce), sqrt / divide / multiply
    are correctly-rounded IEEE ops, and the dot stays all-integer — so the
    double scores are bit-identical across engines.  The plan shape is the
    same zero-Exchange scan + TakeOrderedAndProject as ann_int8_topk."""
    from pharmacodi_spark.text.similarity import int8_weighted_topk

    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return int8_weighted_topk(e, weights, k=20, l2_normalize=True)


@q(
    "hybrid_rrf_topk",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens FROM tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('table', 'scan', 'window', 'merge') GROUP BY 1, 2),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    j AS (
      SELECT tf.doc_id, tf.tf, dft.df, dl.dl,
             (SELECT t_tokens FROM tot) AS t_tokens,
             (SELECT n_docs FROM nd) AS n_docs
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id)
    ),
    terms AS (
      SELECT doc_id,
             greatest(CAST(((2 * n_docs + 2) * 1024) // (2 * df + 1)
                           AS BIGINT), 1) AS x,
             CAST((22 * tf * t_tokens * 1024)
                  // (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)
                  AS BIGINT) AS tfn
      FROM j
    ),
    scored AS (
      SELECT doc_id,
             ((((length(bin(x)) - 1) * 1024)
               + (((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 1024)
                  >> (length(bin(x)) - 1)))
              - 10240) * tfn AS term_score
      FROM terms
    ),
    bm AS (
      SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_fp
      FROM scored GROUP BY 1
      ORDER BY score_fp DESC, doc_id LIMIT 50
    ),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_fp DESC, doc_id) AS text_rank
      FROM bm
    ),
    m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS ma
      FROM embeddings
    ),
    un0 AS (
      SELECT vec_id, ma,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM m
    ),
    un AS (
      SELECT vec_id, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS qv
      FROM un0
    ),
    dots AS (
      SELECT vec_id, CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM un GROUP BY 1
    ),
    ann AS (
      SELECT vec_id, qdot FROM dots ORDER BY qdot DESC, vec_id LIMIT 50
    ),
    annr AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY qdot DESC, vec_id) AS vec_rank
      FROM ann
    )
    SELECT doc_id,
           text_rank,
           vec_rank,
           CAST(coalesce(1048576 // (60 + text_rank), 0)
                + coalesce(1048576 // (60 + vec_rank), 0) AS BIGINT)
             AS rrf_fp
    FROM bmr FULL OUTER JOIN annr USING (doc_id)
    ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with Reciprocal Rank Fusion
    (text/retrieval.py::hybrid_rrf_topk): BM25 top-50 and int8-dot top-50
    candidate lists fused by integer fixed-point ``2^20 div (60+rank)``
    sums — no score calibration between systems, engine-exact arithmetic.
    The rank windows run over the 50-row candidate lists, not the corpus;
    both retrievers end in TakeOrderedAndProject heaps, so the fusion
    stage is metadata-scale at any corpus size."""
    from pharmacodi_spark.text.retrieval import hybrid_rrf_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return hybrid_rrf_topk(
        d, e, ["table", "scan", "window", "merge"], weights, cand=50
    )


@q(
    "neardup_threshold_histogram",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2
              FROM un GROUP BY vec_id)
    SELECT CAST(floor((CAST(d.dot AS DOUBLE)
                       / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                      * 20) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM dots d
    JOIN norms na ON d.vec_a = na.vec_id
    JOIN norms nb ON d.vec_b = nb.vec_id
    GROUP BY 1
    """,
)
def neardup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold-tuning curve: the FULL pairwise cosine
    histogram (0.05-wide bins, exact integer dot/norm math) over the
    bounded brute-force referee window — read the valley between the
    near-dup mode and the background mode to pick the dedup threshold,
    instead of guessing 0.3. Same all-pairs referee scope as
    embedding_near_dup (vec_id < 200); the scale path bins LSH/IVF
    candidate pairs the same way."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    un = e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        "pos",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
    )
    a, b = un.alias("a"), un.alias("b")
    dots = (
        a.join(b, on="pos")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).cast("long").alias("dot"))
    )
    norms = un.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("n2")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cosine = F.col("dot").cast("double") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    return (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .groupBy(F.floor(cosine * 20).cast("long").alias("bin"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# JL random projection (text/similarity.py::jl_project)
# ---------------------------------------------------------------------------

_JL_OUT = 8
_JL_IN = 64


def _jl_sql() -> str:
    from pharmacodi_spark.text.similarity import jl_sign_matrix

    signs = jl_sign_matrix(_JL_IN, _JL_OUT)
    cols = ",\n           ".join(
        "CAST(list_sum(list_transform(generate_series(1, %d), i -> "
        "CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)"
        " * ([%s])[i])) AS BIGINT) AS p%d"
        % (_JL_IN, ", ".join(str(s) for s in row), j)
        for j, row in enumerate(signs)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@q("jl_projection", _jl_sql())
def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection (text/similarity.py::jl_project, Achlioptas
    2003): 64-dim float embeddings → 8 integer components, distances
    preserved within (1±ε) — the cheap front-end for LSH bucketing /
    clustering / dedup blocking. Sign matrix is md5-parity deterministic
    and rides as constant-folded literals; the projection is a zero-
    shuffle per-row fold."""
    from pharmacodi_spark.text.similarity import jl_project, jl_sign_matrix

    e = _t(spark, sf_dir, "embeddings")
    return jl_project(e, jl_sign_matrix(_JL_IN, _JL_OUT))


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------


@q(
    "hard_negatives",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2
              FROM un GROUP BY vec_id),
    cos AS (
      SELECT d.vec_a, d.vec_b,
             CAST(d.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS c
      FROM dots d
      JOIN norms na ON d.vec_a = na.vec_id
      JOIN norms nb ON d.vec_b = nb.vec_id
    ),
    sym AS (
      SELECT vec_a AS anchor, vec_b AS cand, c FROM cos
      UNION ALL
      SELECT vec_b AS anchor, vec_a AS cand, c FROM cos
    ),
    ranked AS (
      SELECT anchor, cand,
             floor(c * 10000 + 0.5) / 10000 AS cosine,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY c DESC, cand) AS rank
      FROM sym WHERE c < 0.9
    )
    SELECT anchor, cand, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the 3
    most-similar candidates BELOW the near-dup threshold (0.9) — similar
    enough to be informative negatives, distinct enough not to be hidden
    positives (the e5/GTR-style mining rule). Bounded brute referee window
    (vec_id < 200) like embedding_near_dup; the scale path mines from
    ANN candidate lists and anti-joins the near-dup pair set. Exact
    integer dot/norm math; rank windows partition per anchor."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    un = e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        "pos",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
    )
    a, b = un.alias("a"), un.alias("b")
    dots = (
        a.join(b, on="pos")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).cast("long").alias("dot"))
    )
    norms = un.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("n2")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    c = F.col("dot").cast("double") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    cos = (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .select("vec_a", "vec_b", c.alias("c"))
    )
    sym = cos.select(
        F.col("vec_a").alias("anchor"), F.col("vec_b").alias("cand"), "c"
    ).unionByName(
        cos.select(
            F.col("vec_b").alias("anchor"), F.col("vec_a").alias("cand"), "c"
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("c"), F.asc("cand"))
    return (
        sym.where(F.col("c") < 0.9)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "anchor",
            "cand",
            _rnd(F.col("c"), 4).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN label-consistency eval (text/similarity.py::knn_label_eval)
# ---------------------------------------------------------------------------


@q(
    "knn_label_eval",
    """
    WITH un AS (
      SELECT vec_id, label,
             CAST(floor((CAST(unnest(embedding) AS DOUBLE) * 10000) + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS qid, any_value(q.label) AS qlabel,
             c.vec_id AS cid, any_value(c.label) AS clabel,
             CAST(sum(q.qv * c.qv) AS BIGINT) AS dot
      FROM un q JOIN un c ON q.pos = c.pos AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 23 = 0
      GROUP BY q.vec_id, c.vec_id
    ),
    topk AS (
      SELECT qid, qlabel, clabel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot DESC, cid) AS rn
      FROM pairs
    ),
    votes AS (
      SELECT qid, qlabel, clabel, count(*) AS c
      FROM topk WHERE rn <= 10 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, qlabel, clabel AS pred,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c DESC, clabel) AS pr
      FROM votes
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST((sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS acc_ppm
    FROM pred WHERE pr = 1 GROUP BY 1
    """,
)
def knn_label_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN label consistency over the embedding column
    (text/similarity.py::knn_label_eval): bounded query sample broadcasts
    against the corpus scan (the corpus never shuffles for pair
    generation), integer-quantized dots, per-query ranking windows on the
    sampled stream, majority vote with deterministic tie-breaks. The
    go/no-go eval before an embedding column is trusted for semantic
    dedup or ANN retrieval."""
    from pharmacodi_spark.text.similarity import knn_label_eval

    e = _t(spark, sf_dir, "embeddings")
    return knn_label_eval(e, k=10, query_mod=23)


# ---------------------------------------------------------------------------
# Graded retrieval metrics (text/retrieval.py::retrieval_ndcg)
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_MOD = 23
_NDCG_PROBES = 100  # probe BUDGET: eval work is max_probes·n (linear),
# not n²/mod — at sf0.01/sf0.1 every mod-eligible id is under the cap so
# the oracle rows are unchanged; the cap only bites at sf1+ (r10 sf1
# pair: 4.4× at 10× data uncapped)
_NDCG_DISC = ndcg_discounts(_NDCG_K)
_NDCG_PSUM = [sum(_NDCG_DISC[:j]) for j in range(1, _NDCG_K + 1)]


def _ndcg_sql() -> str:
    disc = "[" + ", ".join(str(d) for d in _NDCG_DISC) + "]"
    psum = "[" + ", ".join(str(p) for p in _NDCG_PSUM) + "]"
    return f"""
    WITH un AS (
      SELECT vec_id, label,
             CAST(floor((CAST(unnest(embedding) AS DOUBLE) * 10000) + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS qid, any_value(q.label) AS qlabel,
             c.vec_id AS cid,
             CASE WHEN any_value(c.label) = any_value(q.label)
                  THEN 1 ELSE 0 END AS rel,
             CAST(sum(q.qv * c.qv) AS BIGINT) AS dot
      FROM un q JOIN un c ON q.pos = c.pos AND q.vec_id <> c.vec_id
      WHERE q.vec_id % {_NDCG_MOD} = 0
        AND q.vec_id < {_NDCG_MOD * _NDCG_PROBES}
      GROUP BY q.vec_id, c.vec_id
    ),
    rnk AS (
      SELECT qid, qlabel, rel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot DESC, cid) AS rn
      FROM pairs
    ),
    agg AS (
      SELECT qid, any_value(qlabel) AS label,
             sum(CASE WHEN rn <= {_NDCG_K} AND rel = 1
                      THEN 1 ELSE 0 END) AS n_rel_topk,
             sum(rel) AS n_rel_pool,
             sum(CASE WHEN rn <= {_NDCG_K} AND rel = 1
                      THEN list_extract({disc}, rn) ELSE 0 END) AS dcg_fp,
             min(CASE WHEN rn <= {_NDCG_K} AND rel = 1
                      THEN rn END) AS first_hit
      FROM rnk GROUP BY qid
    )
    SELECT qid AS vec_id, label,
           CAST(n_rel_topk AS BIGINT) AS n_rel_topk,
           CAST(n_rel_pool AS BIGINT) AS n_rel_pool,
           CAST(dcg_fp AS BIGINT) AS dcg_fp,
           CAST(CASE WHEN n_rel_pool > 0
                     THEN (dcg_fp * 1000000)
                          // list_extract({psum},
                                          CAST(least(n_rel_pool, {_NDCG_K})
                                               AS BIGINT))
                     ELSE 0 END AS BIGINT) AS ndcg_ppm,
           CAST(coalesce(1000 // first_hit, 0) AS BIGINT) AS mrr_milli
    FROM agg
    """


@q("retrieval_ndcg", _ndcg_sql())
def retrieval_ndcg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval-quality referee over the embedding column
    (text/retrieval.py::retrieval_ndcg): per-probe nDCG@10 (ppm) and MRR
    (milli) with label-match relevance — the ranking metric next to
    knn_label_eval's majority vote (a stack can vote the right label
    while burying the relevant items at ranks 8–10; nDCG catches that).
    The log2 rank-discount table is driver-side fixed point
    (ndcg_discounts), shared VERBATIM between the Spark array literal
    and the SQL list literal; IDCG is a prefix-sum lookup; every
    division a positive-integer truncation. Bounded probe sample
    broadcasts against the corpus scan — the corpus never shuffles to
    form pairs."""
    from pharmacodi_spark.text.retrieval import retrieval_ndcg

    e = _t(spark, sf_dir, "embeddings")
    return retrieval_ndcg(
        e, k=_NDCG_K, query_mod=_NDCG_MOD, max_probes=_NDCG_PROBES
    )


# ---------------------------------------------------------------------------
# Broadcast-centroid-table IVF assignment from a centroid DataFrame
# (round 11: the driver-facing proof that assignment has no k ceiling)
# ---------------------------------------------------------------------------

_IVF_TBL_K = 200  # production-shaped k; the driver row certifies the
# constant-plan table path fed by a never-collected centroid DataFrame


def _ivf_table_sql() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q
              WHERE vec_id < {_IVF_TBL_K}),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qe, c.cqe),
                   s -> (s[1]-s[2])*(s[1]-s[2]))), c.cid) AS rn
        FROM q CROSS JOIN cents c) WHERE rn = 1
    )
    SELECT CAST(cid AS INT) AS cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS min_vec
    FROM assign GROUP BY cid
    """


@q("ivf_table_assign", _ivf_table_sql())
def ivf_table_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment through the broadcast-centroid-TABLE path
    (text/similarity.py::ivf_assign) at k=200 — the driver row certifies
    the production path whose plan stays constant-size in k (k = n div
    256 passes 1e3 at ~256k docs). The centroid set is the lowest-200-id
    quantized vectors passed as a k-row DATAFRAME — never collected to
    the driver: the 1-row array-of-structs collapse, the broadcast, and
    the constant-size argmin all happen engine-side.

    Scale shape: one broadcast of k·dim doubles (index metadata), a
    BroadcastNestedLoopJoin against a 1-row relation, zero corpus
    shuffle before the final ≤k-row groupBy. Exactness: quantized
    integer-valued doubles keep every distance < 2⁵³, so the argmin and
    the oracle's row_number-over-distance agree bit-for-bit; ties break
    to the lower cid via the (d2, cid) struct ordering in Spark and the
    ORDER BY distance, cid in SQL."""
    from pharmacodi_spark.text.similarity import ivf_assign

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    cdf = qe.where(F.col("vec_id") < _IVF_TBL_K).select(
        F.col("vec_id").alias("cid"), F.col("qe").alias("cqe")
    )
    assigned = ivf_assign(
        qe, cdf, vec_col="qe", out_col="cid", cid_col="cid", cvec_col="cqe"
    )
    return assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").cast("long").alias("min_vec"),
    )


def _ivf_arrow_sql() -> str:
    # the Arrow tier computes argmin(|c|² − 2x·c) in one float64 GEMM per
    # batch — for quantized integer-valued vectors every product and
    # partial sum is exact (< 2⁵³), so the SAME cross-join + row_number
    # oracle shape as ivf_table_assign certifies it, k=48 keeps the
    # DuckDB side cheap while still exercising multi-batch GEMM
    return _ivf_table_sql().replace(f"< {_IVF_TBL_K}", "< 48")


@q("ivf_arrow_assign", _ivf_arrow_sql())
def ivf_arrow_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment through the Arrow GEMM tier
    (text/similarity.py::ivf_assign_arrow) — the k ≥ ~1e4 path where
    per-row higher-order-function argmin loses to BLAS: the centroid
    matrix ships once per executor via ``SparkContext.broadcast`` and
    each Arrow batch computes ``argmin_k(|c_k|² − 2·X·Cᵀ)`` as one
    numpy matmul (the per-row |x|² term is constant within a row and
    cannot change the argmin). This driver row certifies the tier's
    EXACTNESS contract cross-engine: with quantized integer-valued
    vectors every GEMM product/partial-sum is an exact float64 integer,
    so np.argmin (first minimum = lowest cid) agrees bit-for-bit with
    the oracle's row_number-over-(distance, cid).

    Scale shape: one mapInPandas projection, zero shuffle before the
    ≤k-row rollup; the broadcast is k·dim·8 bytes of index metadata
    (torrent-distributed once per executor, not per task)."""
    from pharmacodi_spark.text.similarity import ivf_assign_arrow

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    cents = [
        [float(x) for x in r["qe"]]
        for r in sorted(
            qe.where(F.col("vec_id") < 48).collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    assigned = ivf_assign_arrow(qe, cents, vec_col="qe", out_col="cid")
    return assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").cast("long").alias("min_vec"),
    )


# ---------------------------------------------------------------------------
# Arrow GEMM per-cell pair scoring (round 12): the wide-embedding tier of
# cell_cosine_pairs — pair dots as one BLAS matmul per triangle block
# ---------------------------------------------------------------------------


@q(
    "cell_pairs_arrow",
    """
    WITH un AS (
      SELECT vec_id, vec_id % 4 AS cell,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    dots AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b
        ON a.pos = b.pos AND a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2 FROM un GROUP BY 1
    )
    SELECT d.doc_a, d.doc_b
    FROM dots d
    JOIN norms na ON d.doc_a = na.vec_id
    JOIN norms nb ON d.doc_b = nb.vec_id
    WHERE CAST(d.dot AS DOUBLE)
          / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.3
    """,
)
def cell_pairs_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell cosine pairs through the Arrow GEMM tier
    (text/similarity.py::cell_cosine_pairs_arrow, r12) — the
    path cell_cosine_pairs picks past the 128-dim flatten ceiling: one
    numpy matmul per triangle block. This driver row certifies the
    tier's EXACTNESS contract cross-engine: quantized integer-valued
    vectors make every GEMM dot and norm an exact float64 integer, and
    the comparison is the identical IEEE expression the codegen join
    path and the oracle compute (``dot / sqrt(n2_a · n2_b) ≥ t`` with
    the norm product multiplied BEFORE the sqrt), so the emitted pair
    set is bit-identical. max_cell_size=64 forces the triangle-block
    decomposition (125-row cells at sf0.01 → s = 2 subgroups), so the
    off-diagonal cross-block diagonal rule is exercised under the
    oracle gate, not just in pytest.

    Scale shape: vectors shuffle once keyed by the cell (the guard's cell
    count is a window on that same exchange) and pairs materialize inside
    the Arrow worker — only id pairs leave; per-task work is bounded at
    (2·max_cell_size)² under any cell skew."""
    from pharmacodi_spark.text.similarity import cell_cosine_pairs_arrow

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.pmod(F.col("vec_id"), F.lit(4)).cast("long").alias("cell"),
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    return cell_cosine_pairs_arrow(
        qe,
        vec_col="qe",
        id_col="vec_id",
        cell_col="cell",
        threshold=0.3,
        max_cell_size=64,
    )
