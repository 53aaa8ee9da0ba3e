"""Fourth batch of north-star extension queries (round 10, late):
composed SELECTION PRIORS and corpus-structure analytics — the stage
where a pipeline stops judging documents one at a time and starts
combining evidence (link-graph authority × content importance), mapping
corpus structure (k-means topics over the embedding column), and
refereeing its own retrieval stack (graded nDCG/MRR next to the
classification-style knn vote).

Same cross-engine determinism strategy as plans/extensions2/3: integer
quantization, fixed-point integer log2, truncate-toward-zero division
(Spark ``div`` ≡ DuckDB ``//``), driver-side metadata tables shared
verbatim between the Spark literal and the SQL literal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pharmacodi_spark.functions.scalar import local_df
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import q, _rnd, _t, _sim_sql
from pharmacodi_spark.plans.extensions3 import (
    _DSIR_DIM,
    _DSIR_SALT,
    _host_rank_df,
    _host_rank_parts,
    _il,
)
from pharmacodi_spark.text.retrieval import ndcg_discounts


# ---------------------------------------------------------------------------
# Rank-weighted selection (ROADMAP r9 candidate): link-graph authority
# prior × DSIR content importance, combined in log space
# ---------------------------------------------------------------------------

_RW_ITERS = 2  # the cheap prior: authority_gate's 6-iteration CTE runs
# minutes at sf0.01 in DuckDB (ROADMAP note); 2 iterations keep the same
# integer algebra and a sub-second oracle
_RW_K = 50

_DSIR_CTES = f"""
    tok AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    bk AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5('{_DSIR_SALT}' || token), 1, 15))
                  AS BIGINT) % {_DSIR_DIM} AS bucket
      FROM tok
    ),
    c AS (
      SELECT bucket, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM bk GROUP BY 1
    ),
    tot AS (
      SELECT sum(cr) + {_DSIR_DIM} AS tr, sum(ct) + {_DSIR_DIM} AS tt FROM c
    ),
    lam AS (
      SELECT bucket,
             ({_il("ct + 1")} - {_il("tt")}
              - {_il("cr + 1")} + {_il("tr")}) AS lam
      FROM c, tot
    ),
    s AS (
      SELECT bk.doc_id, sum(lam.lam) AS dsir_fp
      FROM bk JOIN lam USING (bucket) GROUP BY 1
    )"""


def _rank_weighted_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_host_rank_parts(_RW_ITERS))
        + f""",
    ranks AS (SELECT v AS host, r FROM r{_RW_ITERS}),
    {_DSIR_CTES}
    SELECT d.doc_id,
           lower(d.source) || '.example.com' AS host,
           CAST(ranks.r AS BIGINT) AS rank_e9,
           CAST(coalesce(s.dsir_fp, 0) AS BIGINT) AS dsir_fp,
           CAST(coalesce(s.dsir_fp, 0) + {_il("ranks.r")} AS BIGINT)
             AS combined_fp
    FROM documents d
    JOIN ranks ON ranks.host = lower(d.source) || '.example.com'
    LEFT JOIN s ON s.doc_id = d.doc_id
    ORDER BY combined_fp DESC, d.doc_id
    LIMIT {_RW_K}
    """
    )


@q("rank_weighted_select", _rank_weighted_sql())
def rank_weighted_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-weighted data selection (ROADMAP r9 candidate): the
    link-graph authority prior (host_link_rank's derivation at 2
    iterations — text/html.py::extract_links → text/urls.py::url_host →
    operators/graph.py::pagerank_int) combined with the DSIR content
    importance weight (text/selection.py, Xie et al. 2023) in LOG space:
    ``combined_fp = dsir_fp + ilog2_fp(rank_e9)`` — the fixed-point
    integer log of the prior × likelihood product, every term
    engine-exact. Top-k most-selectable docs (ties → lower id).

    Scale shape (100 TB): the rank table is domain-cardinality metadata
    pinned once and BROADCAST into the doc join; λ rides as one array
    literal into a zero-shuffle native fold (dsir_score); the host key
    is a free projection riding dsir_score's keep_cols seam (no id-keyed
    re-attach join); selection is TakeOrderedAndProject. Bodies never
    shuffle — the only corpus-scale exchange is the map-side-collapsing
    λ-training aggregate."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.retrieval import ilog2_fp
    from pharmacodi_spark.text.selection import dsir_score, dsir_train_weights

    ranks = stage_barrier(
        _host_rank_df(spark, sf_dir, iterations=_RW_ITERS),
        name="rank_weighted_prior",
    )
    d = _t(spark, sf_dir, "documents")
    lam = dsir_train_weights(
        d, F.col("lang") == "en", dim=_DSIR_DIM, salt=_DSIR_SALT
    )
    scored = dsir_score(
        d, lam, dim=_DSIR_DIM, salt=_DSIR_SALT, keep_cols=("source",)
    )
    docs = scored.select(
        "doc_id",
        "dsir_fp",
        F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias(
            "host"
        ),
    )
    j = docs.join(F.broadcast(ranks), "host")
    return (
        j.select(
            "doc_id",
            "host",
            "rank_e9",
            F.col("dsir_fp").cast("long").alias("dsir_fp"),
            (F.col("dsir_fp") + ilog2_fp(F.col("rank_e9")))
            .cast("long")
            .alias("combined_fp"),
        )
        .orderBy(F.desc("combined_fp"), F.asc("doc_id"))
        .limit(_RW_K)
    )


# ---------------------------------------------------------------------------
# k-means topic structure over the embedding column
# (text/similarity.py::kmeans_lloyd_int)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 10000


def _kmeans_parts(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd's CTE chain ending in ``af(vec_id, cid, d2)`` —
    shared by kmeans_topics and cluster_balanced_sample. Assignment =
    integer squared-L2 argmin (ties → lower centroid id), update =
    per-dimension ``sum // count`` (DuckDB ``//`` truncates toward zero —
    the exact Spark ``div`` / Python
    :func:`~pharmacodi_spark.text.similarity._trunc_div` semantics),
    empty clusters keep their previous centroid."""
    parts = [
        f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*{_KM_SCALE} + 0.5)
                         AS BIGINT)) AS qe
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, qe AS cqe FROM q WHERE vec_id < {k})"""
    ]
    for i in range(iters):
        parts.append(
            f"""d{i} AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(list_zip(q.qe, c.cqe),
                                     s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
      FROM q CROSS JOIN c{i} c
    ),
    a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM d{i})
      WHERE rn = 1
    ),
    e{i} AS (
      SELECT a.cid, generate_subscripts(q.qe, 1) AS pos, unnest(q.qe) AS x
      FROM a{i} a JOIN q USING (vec_id)
    ),
    s{i} AS (
      SELECT cid, pos, sum(x) AS sx, count(*) AS n
      FROM e{i} GROUP BY 1, 2
    ),
    u{i} AS (
      SELECT cid, list(sx // n ORDER BY pos) AS cqe FROM s{i} GROUP BY 1
    ),
    c{i + 1} AS (
      SELECT c{i}.cid, coalesce(u{i}.cqe, c{i}.cqe) AS cqe
      FROM c{i} LEFT JOIN u{i} USING (cid)
    )"""
        )
    parts.append(
        f"""df AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(list_zip(q.qe, c.cqe),
                                     s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
      FROM q CROSS JOIN c{iters} c
    ),
    af AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM df)
      WHERE rn = 1
    )"""
    )
    return "WITH " + ",\n    ".join(parts)


def _kmeans_sql(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    return (
        _kmeans_parts(k, iters)
        + """
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(d2) AS BIGINT) AS inertia,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id
    FROM af GROUP BY 1
    """
    )


@q("kmeans_topics", _kmeans_sql())
def kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic structure via integer Lloyd's k-means over the
    embedding column (text/similarity.py::kmeans_lloyd_int, k=8, 2
    iterations, seeds = the k lowest-id vectors): the clustering
    primitive behind SemDeDup-style semantic pruning and cluster-balanced
    sampling — per-cluster size, exact integer inertia, and the min-id
    exemplar. Every step engine-deterministic: quantized integer vectors,
    exact squared-L2 argmin with lower-index tie-break, per-dimension
    ``sum div count`` centroid updates (truncate-toward-zero in BOTH
    engines), empty clusters keep their previous centroid.

    Scale shape: centroids are index metadata (k·dim longs, driver-side
    like ivf_topk's coarse quantizer); each Lloyd step is ONE corpus scan
    + a map-side-combining (cid, dim)-keyed aggregate of k·dim rows;
    vectors never pair and never shuffle. The quantized frame is
    stage-barrier-pinned — every iteration re-reads it."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.similarity import kmeans_lloyd_int

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    qe = stage_barrier(qe, name="kmeans_qe")
    assigned, _cents = kmeans_lloyd_int(
        qe, k=_KM_K, iterations=_KM_ITERS, vec_col="qe", id_col="vec_id"
    )
    return assigned.groupBy(F.col("cid").cast("long").alias("cid")).agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("d2").cast("long").alias("inertia"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
    )


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


_CBS_QUOTA = 16


def _cluster_balanced_sql() -> str:
    return (
        _kmeans_parts()
        + f"""
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cid AS BIGINT) AS cid,
           CAST(d2 AS BIGINT) AS d2,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY cid
                                ORDER BY d2, vec_id) AS rk
      FROM af)
    WHERE rk <= {_CBS_QUOTA}
    """
    )


@q("cluster_balanced_sample", _cluster_balanced_sql())
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset selection: the k-means topic structure
    (kmeans_lloyd_int, same k/iterations/seeds as kmeans_topics) feeding
    a per-cluster prototypicality quota — up to _CBS_QUOTA most-central
    vectors per cluster (ascending exact integer distance to the final
    centroid, ties → lower id). The diversity-preserving sampler a
    mixture pipeline runs AFTER dedup: proportional sampling over-serves
    the head topic, a balanced quota keeps every region of embedding
    space represented (the SemDeDup / DDS complement to
    prototypicality's outlier pruning).

    Scale shape: identical to kmeans_topics through the final assignment
    (pinned quantized frame, metadata centroids, vectors never pair);
    the quota is ONE ranking window keyed by cid — k partitions, each
    heap-bounded; at 100 TB the cid-keyed exchange carries (vec_id, cid,
    d2) triples, never the vectors."""
    from pyspark.sql import Window

    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.similarity import kmeans_lloyd_int

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    qe = stage_barrier(qe, name="cbs_qe")
    assigned, _cents = kmeans_lloyd_int(
        qe, k=_KM_K, iterations=_KM_ITERS, vec_col="qe", id_col="vec_id"
    )
    w = Window.partitionBy("cid").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        assigned.select("vec_id", "cid", "d2")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CBS_QUOTA)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cid").cast("long").alias("cid"),
            F.col("d2").cast("long").alias("d2"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# All-but-the-top: corpus dominant-direction projection
# (text/similarity.py::top_component_projection)
# ---------------------------------------------------------------------------

_ABTT_SCALE = 1 << 10
_ABTT_SHIFT = 1 << 16
_ABTT_ITERS = 2


def _abtt_sql(iters: int = _ABTT_ITERS) -> str:
    """Long-form (pos-keyed) twin of the integer power iteration: mean =
    per-dim ``sum // n``, start = the lowest-id centered row, each
    iteration ``d = c·v`` → downshift → per-dim ``w = Σ c·d'`` →
    ∞-norm rescale to 2^scale_bits — every division truncating."""
    parts = [
        """un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)*10000 + 0.5)
                  AS BIGINT) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    mu AS (SELECT pos, sum(x) // count(*) AS m FROM un GROUP BY 1),
    cent AS (
      SELECT vec_id, un.pos, CAST(x - m AS BIGINT) AS c
      FROM un JOIN mu USING (pos)
    ),
    v0 AS (
      SELECT pos, c AS v FROM cent
      WHERE vec_id = (SELECT min(vec_id) FROM cent)
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
      SELECT vec_id, sum(c * v) AS d
      FROM cent JOIN v{i - 1} USING (pos) GROUP BY 1
    ),
    w{i} AS (
      SELECT pos, sum(c * (d // {_ABTT_SHIFT})) AS w
      FROM cent JOIN d{i} USING (vec_id) GROUP BY 1
    ),
    v{i} AS (
      SELECT pos,
             (w * {_ABTT_SCALE}) // (SELECT max(abs(w)) FROM w{i}) AS v
      FROM w{i}
    )"""
        )
    parts.append(
        f"""p AS (
      SELECT vec_id, sum(c * v) AS d
      FROM cent JOIN v{iters} USING (pos) GROUP BY 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT vec_id, CAST(d // {_ABTT_SCALE} AS BIGINT) AS proj_q FROM p
    """
    )


@q("embedding_top_component", _abtt_sql())
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top anisotropy audit (Mu & Viswanath 2018): every
    vector's projection onto the corpus's dominant direction, found by
    integer power iteration (text/similarity.py::top_component_projection
    — 2 iterations, ∞-norm rescale to 2^10, truncating divisions only).
    Embedding columns are anisotropic out of every encoder; the common
    direction carries no retrieval signal, and removing it (subtract
    mu, subtract proj·v) measurably improves cosine retrieval — this
    query is the audit that decides whether to run the removal, and
    ``proj_q`` is exactly the coefficient the removal needs.

    Scale shape: mean + component are dim-length driver metadata; each
    iteration is one scan of the pinned centered frame + a per-dim
    map-side-combining aggregate (dim rows exchanged); vectors never
    pair, never shuffle. ``shift_bits`` is the int64 headroom knob —
    the library docstring gives the exact bound to raise it with n."""
    from pharmacodi_spark.text.similarity import top_component_projection

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    proj, _v, _mu = top_component_projection(
        qe, iterations=_ABTT_ITERS, scale_bits=10, shift_bits=16
    )
    return proj.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("proj_q").cast("long").alias("proj_q"),
    )


_ABTT_PROBE = 42
_ABTT_TOPK = 10


def _abtt_corrected_sql() -> str:
    """Extends the power-iteration CTE chain with the CORRECTION and a
    probe retrieval. Exact integer ABTT removal with per-component floor
    quantization: ``c' = (c·|v|² − (c·v)·v) div |v|²`` — subtracting each
    vector's share of the common direction and truncating back to the
    centered-quantized magnitude (every engine computes the identical
    division); then exact integer dot top-k against the corrected
    probe."""
    return (
        _abtt_sql().rsplit("SELECT vec_id", 1)[0]
        + f""",
    vv2 AS (SELECT sum(v * v) AS s2 FROM v{_ABTT_ITERS}),
    corr AS (
      SELECT cent.vec_id, cent.pos,
             (cent.c * vv2.s2 - p.d * v{_ABTT_ITERS}.v) // vv2.s2 AS cc
      FROM cent
      JOIN p USING (vec_id)
      JOIN v{_ABTT_ITERS} USING (pos)
      CROSS JOIN vv2
    ),
    probe AS (SELECT pos, cc AS pc FROM corr WHERE vec_id = {_ABTT_PROBE})
    SELECT c.vec_id,
           CAST(sum(c.cc * probe.pc) AS BIGINT) AS dot
    FROM corr c JOIN probe USING (pos)
    WHERE c.vec_id <> {_ABTT_PROBE}
    GROUP BY 1
    ORDER BY dot DESC, c.vec_id
    LIMIT {_ABTT_TOPK}
    """
    )


@q("abtt_corrected_topk", _abtt_corrected_sql())
def abtt_corrected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top CORRECTED retrieval — the E2E that closes the
    anisotropy story: audit (embedding_top_component) → correction →
    exact top-k by corrected dot against a fixed probe (vec_id 42, ties
    → lower id). The correction is the Mu & Viswanath 2018 removal in
    exact integer arithmetic: ``c' = (c·|v|² − (c·v)·v) div |v|²`` —
    each vector loses its share of the common direction, floor-quantized
    per component back to centered-quantized magnitude (int64-safe: the
    pre-division numerator peaks ~2^41 on this fixture; the library
    docstring's shift_bits bound governs the power iteration itself).

    Scale shape: mean/component/|v|²/probe are dim-length (or scalar)
    literals; the correction + projection fuse into ONE codegen'd
    zero-shuffle pass over each row (no join back to the audit output —
    ``c·v`` recomputes in-row from the same literals); top-k is
    TakeOrderedAndProject. Zero corpus shuffle end to end."""
    from pharmacodi_spark.text.similarity import top_component_projection

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    _proj, v, mu = top_component_projection(
        qe, iterations=_ABTT_ITERS, scale_bits=10, shift_bits=16
    )
    from pharmacodi_spark.functions.scalar import int_array_lit

    vv2 = sum(x * x for x in v)
    # single-node literals (r12, guide §1.2 — see int_array_lit)
    mu_arr = int_array_lit(mu)
    v_arr = int_array_lit(v)
    cent = qe.select(
        "vec_id",
        F.zip_with(
            F.transform("qe", lambda x: x.cast("long")),
            mu_arr,
            lambda x, m: x - m,
        ).alias("c"),
    )
    dot_v = F.aggregate(
        F.zip_with("c", v_arr, lambda c, vv: c * vv),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )

    def _trunc_div_col(num, den: int):
        # truncate-toward-zero via (num - num % den) / den: Spark % takes
        # the dividend's sign, the difference divides exactly, and the
        # double division of an exactly-divisible value < 2^53 is exact
        return ((num - num % F.lit(den)) / F.lit(den)).cast("long")

    from pharmacodi_spark.barrier import stage_barrier

    corrected = stage_barrier(
        cent.withColumn("__dv", dot_v).select(
            "vec_id",
            F.zip_with(
                "c",
                v_arr,
                lambda c, vv: _trunc_div_col(
                    c * F.lit(vv2) - F.col("__dv") * vv, vv2
                ),
            ).alias("cc"),
        ),
        name="abtt_corrected",
    )
    probe_row = corrected.where(F.col("vec_id") == _ABTT_PROBE).collect()[0]
    p_arr = int_array_lit(probe_row["cc"])
    dot_p = F.aggregate(
        F.zip_with("cc", p_arr, lambda c, pp: c * pp),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    return (
        corrected.where(F.col("vec_id") != _ABTT_PROBE)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            dot_p.cast("long").alias("dot"),
        )
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(_ABTT_TOPK)
    )


# ---------------------------------------------------------------------------
# Embedding snapshot drift: mean shift + dominant-direction rotation
# ---------------------------------------------------------------------------


def _abtt_chain(sfx: str, pred: str, iters: int = _ABTT_ITERS) -> list[str]:
    """The power-iteration CTE chain with suffixed names and a row
    filter — lets one statement run the iteration over two corpus
    snapshots (embedding_drift) without colliding with the unsuffixed
    chain _abtt_sql builds."""
    parts = [
        f"""un{sfx} AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)*10000 + 0.5)
                  AS BIGINT) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE {pred}
    ),
    mu{sfx} AS (SELECT pos, sum(x) // count(*) AS m FROM un{sfx} GROUP BY 1),
    cent{sfx} AS (
      SELECT vec_id, un{sfx}.pos, CAST(x - m AS BIGINT) AS c
      FROM un{sfx} JOIN mu{sfx} USING (pos)
    ),
    v0{sfx} AS (
      SELECT pos, c AS v FROM cent{sfx}
      WHERE vec_id = (SELECT min(vec_id) FROM cent{sfx})
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i}{sfx} AS (
      SELECT vec_id, sum(c * v) AS d
      FROM cent{sfx} JOIN v{i - 1}{sfx} USING (pos) GROUP BY 1
    ),
    w{i}{sfx} AS (
      SELECT pos, sum(c * (d // {_ABTT_SHIFT})) AS w
      FROM cent{sfx} JOIN d{i}{sfx} USING (vec_id) GROUP BY 1
    ),
    v{i}{sfx} AS (
      SELECT pos,
             (w * {_ABTT_SCALE}) // (SELECT max(abs(w)) FROM w{i}{sfx}) AS v
      FROM w{i}{sfx}
    )"""
        )
    return parts


def _drift_sql() -> str:
    vo = f"v{_ABTT_ITERS}_o"
    vn = f"v{_ABTT_ITERS}_n"
    return (
        "WITH "
        + ",\n    ".join(
            _abtt_chain("_o", "vec_id % 2 = 0")
            + _abtt_chain("_n", "vec_id % 2 = 1")
        )
        + f""",
    met AS (
      SELECT
        (SELECT count(DISTINCT vec_id) FROM un_o) AS n_old,
        (SELECT count(DISTINCT vec_id) FROM un_n) AS n_new,
        (SELECT sum((a.m - b.m) * (a.m - b.m))
         FROM mu_o a JOIN mu_n b USING (pos)) AS mean_shift2,
        (SELECT sum(a.v * b.v)
         FROM {vo} a JOIN {vn} b USING (pos)) AS dd,
        (SELECT sum(v * v) FROM {vo}) AS no2,
        (SELECT sum(v * v) FROM {vn}) AS nn2
    )
    SELECT CAST(n_old AS BIGINT) AS n_old,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(mean_shift2 AS BIGINT) AS mean_shift2,
           CAST(dd // {_ABTT_SCALE} AS BIGINT) AS comp_dot_q,
           CAST((CASE WHEN dd < 0 THEN -1 ELSE 1 END)
                * (((dd // {_ABTT_SCALE}) * (dd // {_ABTT_SCALE}) * 1000000)
                   // ((no2 // {_ABTT_SCALE}) * (nn2 // {_ABTT_SCALE})))
                AS BIGINT) AS cos2_ppm_signed
    FROM met
    """
    )


@q("embedding_drift", _drift_sql())
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding snapshot drift audit: split the corpus into two
    deterministic snapshots (even/odd ids — the fixture stand-in for
    old-encoder vs re-encoded, or last-month vs this-month), run the
    integer power iteration on each, and report the drift a pipeline
    alarms on before trusting cross-snapshot ANN/dedup: exact integer
    mean shift ``Σ(µo−µn)²`` and the dominant-direction rotation as a
    signed squared-cosine in ppm (both components ∞-norm-scaled to
    2^10, the dot downshifted before squaring to stay in int64 —
    deterministic, same truncations in both engines). The re-encode /
    re-index trigger next to corpus_drift_psi's token-space twin.

    Scale shape: both snapshot iterations are pinned-frame scans with
    dim-row metadata aggregates (the top_component_projection shape);
    the drift combine is pure driver metadata math over two dim-length
    vectors — the emitted row is scalars only."""
    from concurrent.futures import ThreadPoolExecutor

    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.similarity import (
        _trunc_div,
        top_component_projection,
    )

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    # r12 (guide §2.6 + §5): ONE pin of the quantized frame — both
    # snapshot chains and their counts re-read the pin instead of
    # re-scanning parquet + re-quantizing per job
    qe = stage_barrier(qe, name="drift_qe")
    old = qe.where(F.col("vec_id") % 2 == 0)
    new = qe.where(F.col("vec_id") % 2 == 1)

    # r12 (guide §2.6): the two snapshot power iterations are mutually
    # independent driver-collect chains — overlap them so the second
    # chain's jobs back-fill the first's stragglers. Results are
    # byte-identical: each chain's integer math is untouched, threads
    # share nothing but the SparkSession (actions are thread-safe).
    def _chain(snap):
        _p, v, mu = top_component_projection(snap, iterations=_ABTT_ITERS)
        return v, mu, snap.count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        fo = pool.submit(_chain, old)
        fn_ = pool.submit(_chain, new)
        vo, muo, n_old = fo.result()
        vn, mun, n_new = fn_.result()
    mean_shift2 = sum((a - b) * (a - b) for a, b in zip(muo, mun))
    dd = sum(a * b for a, b in zip(vo, vn))
    no2 = sum(x * x for x in vo)
    nn2 = sum(x * x for x in vn)
    dq = _trunc_div(dd, _ABTT_SCALE)
    denom = _trunc_div(no2, _ABTT_SCALE) * _trunc_div(nn2, _ABTT_SCALE)
    cos2 = (-1 if dd < 0 else 1) * ((dq * dq * 1000000) // denom)
    return local_df(
        spark,
        [(n_old, n_new, mean_shift2, dq, cos2)],
        ["n_old", "n_new", "mean_shift2", "comp_dot_q", "cos2_ppm_signed"],
        types=["long"] * 5,
    )


def _cluster_purity_sql() -> str:
    return (
        _kmeans_parts()
        + """,
    lab AS (
      SELECT af.cid, e.label, count(*) AS c
      FROM af JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2
    ),
    tot AS (SELECT cid, sum(c) AS n FROM lab GROUP BY 1),
    top AS (
      SELECT cid, label AS top_label, c AS top_c FROM (
        SELECT cid, label, c,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY c DESC, label) AS rn
        FROM lab)
      WHERE rn = 1
    )
    SELECT CAST(t.cid AS BIGINT) AS cid,
           CAST(t.n AS BIGINT) AS n_vecs,
           CAST(top.top_label AS BIGINT) AS top_label,
           CAST(top.top_c AS BIGINT) AS top_c,
           CAST((top.top_c * 1000000) // t.n AS BIGINT) AS purity_ppm
    FROM tot t JOIN top USING (cid)
    """
    )


@q("cluster_purity", _cluster_purity_sql())
def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster label-purity report — the eval that closes the topic
    family the way knn_label_eval closes the embedding family: after the
    k-means assignment (same seeds/iterations as kmeans_topics), each
    cluster reports its size, majority label (ties → lower label,
    deterministic), and purity in ppm. Low purity on a labeled probe set
    is the signal that the embedding space (or k) doesn't support
    topic-balanced sampling yet.

    Scale shape: identical to kmeans_topics through the final assignment
    (pinned quantized frame, metadata centroids); the purity rollup is a
    (cid,label)-keyed aggregate collapsing map-side to k·|labels| rows,
    then a k-row window. The label join probes the pinned assignment by
    id — at corpus scale write the assignment partitioned by cid and
    this is a metadata-scale report."""
    from pyspark.sql import Window

    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.similarity import kmeans_lloyd_int

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (_rnd(x.cast("double") * _KM_SCALE)).cast("long"),
        ).alias("qe"),
    )
    qe = stage_barrier(qe, name="purity_qe")
    assigned, _cents = kmeans_lloyd_int(
        qe, k=_KM_K, iterations=_KM_ITERS, vec_col="qe", id_col="vec_id"
    )
    # the pinned assignment has no stats, so the label attach would fall
    # to sort-merge — hint it hash (the near_dup_droplist lesson); the
    # total and the majority pick are two windows over the SAME cid
    # partitioning, sharing one exchange (no tot⋈top self-join, no
    # second label scan)
    lab = (
        assigned.select("vec_id", "cid")
        .join(e.select("vec_id", "label").hint("shuffle_hash"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("c"))
    )
    w_tot = Window.partitionBy("cid")
    w_rank = Window.partitionBy("cid").orderBy(F.desc("c"), F.asc("label"))
    return (
        lab.withColumn("n", F.sum("c").over(w_tot))
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n").cast("long").alias("n_vecs"),
            F.col("label").cast("long").alias("top_label"),
            F.col("c").cast("long").alias("top_c"),
            F.expr("(c * 1000000) div n").cast("long").alias("purity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic md5-HLL distinct sketch (operators/sketches.py)
# ---------------------------------------------------------------------------

_HLL_M = 256
_HLL_W1 = 31  # W + 1
_HLL_NUM = 735 * 256 * 256 * (1 << 31)  # alpha_fp10 · m² · 2^(W+1)


def _hll_sql() -> str:
    return f"""
    WITH hh AS (
      SELECT source,
             CAST(('0x' || substr(md5('h:' || text), 1, 15)) AS BIGINT) AS h
      FROM documents
      WHERE text IS NOT NULL
    ),
    reg AS (
      SELECT source, h % {_HLL_M} AS j,
             CASE WHEN (h // {_HLL_M}) % {1 << 30} = 0 THEN {_HLL_W1}
                  ELSE {_HLL_W1}
                       - length(bin((h // {_HLL_M}) % {1 << 30})) END AS rho
      FROM hh
    ),
    mx AS (SELECT source, j, max(rho) AS m FROM reg GROUP BY 1, 2),
    per AS (
      SELECT source, count(*) AS n_hit,
             sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - m AS INT)) AS s_hit
      FROM mx GROUP BY 1
    ),
    fin AS (
      SELECT source, n_hit,
             {_HLL_M} - n_hit AS v_empty,
             ({_HLL_NUM}
              // (s_hit + ({_HLL_M} - n_hit)
                          * CAST({1 << 31} AS BIGINT))) // 1024 AS raw
      FROM per
    ),
    lc AS (
      SELECT source, v_empty, raw,
             CASE WHEN v_empty > 0
                  THEN ({_HLL_M * 1024}) // v_empty ELSE 1024 END AS q
      FROM fin
    ),
    lc2 AS (
      SELECT source, v_empty, raw, q,
             length(bin(q)) - 11 AS sh,
             q >> CAST(length(bin(q)) - 11 AS INT) AS r
      FROM lc
    ),
    lc3 AS (
      SELECT source, v_empty, raw, sh, r,
             ((r - 1024) * 1024) // (r + 1024) AS z
      FROM lc2
    ),
    est AS (
      SELECT source, v_empty,
             CASE WHEN v_empty > 0 AND raw * 2 < {5 * _HLL_M}
                  THEN ({_HLL_M} * (sh * 709 + 2 * z
                                    + (2 * z * z * z) // 3145728)) // 1024
                  ELSE raw END AS n_est
      FROM lc3
    ),
    ex AS (SELECT source, count(DISTINCT text) AS n_exact
           FROM documents GROUP BY 1)
    SELECT e.source,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(e.n_est AS BIGINT) AS n_est,
           CAST(e.v_empty AS BIGINT) AS v_empty,
           CAST((abs(e.n_est - x.n_exact) * 1000000) // x.n_exact AS BIGINT)
             AS err_ppm
    FROM est e JOIN ex x USING (source)
    """


@q("hll_distinct", _hll_sql())
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct documents per source via the deterministic
    md5-HLL (operators/sketches.py::hll_md5_distinct) — the
    oracle-GATED sibling of the native DataSketches path (whose binary
    sketch is engine-specific and therefore pytest-only, the gap that
    module's docstring has carried since r3). Every step is integer:
    md5 register+rank, per-register max, one-denominator harmonic sum,
    fixed-point alpha multiply, and Flajolet's linear-counting
    small-range branch through the fixed-point log2 kit. The row also
    carries the exact distinct and the error in ppm — the sketch
    auditing itself.

    Scale shape: the sketch is ONE map-side-combining aggregate keyed by
    (source, register) — ≤256 rows per source survive the combine no
    matter how many documents — vs count(DISTINCT)'s shuffle of every
    distinct value. (The exact side here is fixture-scale audit;
    production reads the sketch alone.)"""
    from pharmacodi_spark.operators.sketches import hll_md5_distinct

    d = _t(spark, sf_dir, "documents")
    sk = hll_md5_distinct(d, "text", by=["source"])
    ex = d.groupBy("source").agg(
        F.countDistinct("text").cast("long").alias("n_exact")
    )
    return sk.join(ex, "source").select(
        "source",
        "n_exact",
        "n_est",
        "v_empty",
        F.expr("(abs(n_est - n_exact) * 1000000) div n_exact")
        .cast("long")
        .alias("err_ppm"),
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


# ---------------------------------------------------------------------------
# Unicode decontamination E2E (round 11: the tokens_col seam on the
# HIGHEST-stakes space-split op — VERDICT r10 item 4's lead case)
# ---------------------------------------------------------------------------


def _unicode_decontam_sql() -> str:
    from pharmacodi_spark.plans.extensions3 import (
        _MIXED_SENTENCES,
        _SPACEFREE_RE2_CLS,
        _UNI_CASE,
        _UNI_TOKEN_RE2,
    )

    def tokify(src: str) -> str:
        return (
            f"regexp_extract_all(regexp_replace({src}, "
            f"'{_SPACEFREE_RE2_CLS}', ' " + "\\1"
            f" ', 'g'), '{_UNI_TOKEN_RE2}')"
        )
    return f"""
    WITH fixture AS (
      SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS bucket,
             'doc ' || CAST(doc_id AS VARCHAR) || ' ' || {_UNI_CASE} AS text
      FROM documents
    ),
    tr AS (
      SELECT doc_id, bucket, {tokify('text')} AS toks
      FROM fixture
    ),
    trg AS (
      SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+12], ' ')) AS gh
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks)-12)) AS i
            FROM tr WHERE len(toks) >= 13)
    ),
    ev AS (SELECT {tokify(f"'{_MIXED_SENTENCES[0]}'")} AS toks),
    evg AS (
      SELECT DISTINCT md5(array_to_string(toks[i:i+12], ' ')) AS gh
      FROM (SELECT toks, unnest(generate_series(1, len(toks)-12)) AS i
            FROM ev WHERE len(toks) >= 13)
    ),
    hits AS (
      SELECT doc_id, count(*) AS n_collisions
      FROM trg WHERE gh IN (SELECT gh FROM evg)
      GROUP BY doc_id
    )
    SELECT f.bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(h.n_collisions, 0) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(sum(coalesce(h.n_collisions, 0)) AS BIGINT)
             AS sum_collisions
    FROM fixture f LEFT JOIN hits h USING (doc_id)
    GROUP BY f.bucket
    """


@q("unicode_decontam", _unicode_decontam_sql())
def unicode_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK benchmark decontamination through the UNCHANGED 13-gram rule
    (r11, VERDICT r10 item 4's highest-stakes case): on split-on-space an
    unspaced Han line is ONE "token", 13-grams never form, and benchmark
    contamination passes SILENTLY — the exact r8 silent-degradation
    class. The mixed-script fixture (Han/Thai/Japanese/Latin sentences
    keyed by doc_id % 4, the unicode_token_stats fixture) plants the
    bucket-0 Han sentence as the "benchmark"; through
    ``tokens_col=unicode_tokens`` every bucket-0 document yields exactly
    4 colliding 13-grams (the 16-char run's windows) while the other
    buckets stay clean. The oracle runs the identical tokenize→13-gram→
    md5→semi-join cascade in RE2/DuckDB syntax.

    Same scale shape as decontaminate_against's default path: eval grams
    collapse to a DISTINCT sidecar hash set, train ships (id, 32-byte
    hash) pairs, bodies never shuffle; the bucket rollup replaces the
    per-doc droplist so the driver row stays 4 rows at any sf."""
    from pharmacodi_spark.text.analysis import unicode_tokens
    from pharmacodi_spark.text.cleaning import decontaminate_against
    from pharmacodi_spark.plans.extensions3 import _MIXED_SENTENCES

    d = _t(spark, sf_dir, "documents")
    sent = F.element_at(
        F.array(*[F.lit(s) for s in _MIXED_SENTENCES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    train = d.select(
        "doc_id",
        F.concat(
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "), sent
        ).alias("text"),
    ).withColumn("toks", unicode_tokens("text"))
    ev = local_df(
        spark, [(0, _MIXED_SENTENCES[0])], ["doc_id", "text"],
        types=["long", "string"],
    ).withColumn("toks", unicode_tokens("text"))
    flags = decontaminate_against(train, ev, n=13, tokens_col="toks")
    return flags.groupBy(
        (F.col("doc_id") % 4).cast("long").alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("contaminated").cast("int"))
        .cast("long")
        .alias("n_contaminated"),
        F.sum("n_collisions").cast("long").alias("sum_collisions"),
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
# Wide (60-bit) SimHash near-dup pairs — retiring the 16-bit saturation
# caveat the r11 detector_agreement root-cause documented
# ---------------------------------------------------------------------------

_SIMW_BITS = 60  # the md5 15-hex-char slice budget
_SIMW_PREFIX = 8
_SIMW_HAMMING = 3


def _simhash_wide_sql() -> str:
    shift = 1 << (_SIMW_BITS - _SIMW_PREFIX)
    return f"""
    WITH sim AS ({_sim_sql(_SIMW_BITS, "fp")}),
    b AS (SELECT doc_id, fp, fp // {shift} AS bucket FROM sim)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.fp, b2.fp)) <= {_SIMW_HAMMING}
    """


@q("simhash_wide_pairs", _simhash_wide_sql())
def simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from 60-bit SimHash fingerprints — the
    PRODUCTION width. The r11 detector_agreement root-cause measured the
    16-bit oracle variant saturating its fingerprint space at 50k docs
    (65,536 values → hamming ≤ 3 pair mass grew 21× for 10× docs); at 60
    bits the space is 2^60, collision mass tracks true near-duplicates at
    any realistic corpus size. Same machinery, just wide:
    text/dedup.py::md5_simhash (md5-sliced token hashes, per-bit ±1
    majority) at bits=60 feeding text/dedup.py::simhash_near_pairs
    (top-8-bit prefix blocking, exact bit_count(xor) Hamming referee,
    triangle hot-bucket guard at 256).

    Scale shape: one explode + one (doc, 60-sum) aggregate (map-side
    combining), then bucket-local pair expansion — fingerprints are the
    only thing that shuffles; 100 TB stores them partitioned by the
    prefix bucket so pair generation is partition-local. The oracle runs
    the identical 60-bit majority + prefix-join + popcount cascade."""
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    sim = md5_simhash(d, bits=_SIMW_BITS)
    return simhash_near_pairs(
        sim,
        max_hamming=_SIMW_HAMMING,
        prefix_bits=_SIMW_PREFIX,
        bits=_SIMW_BITS,
        max_cell_size=256,
    ).select(
        "doc_a",
        "doc_b",
        F.col("hamming").cast("long").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# log2-bucket quantile sketch audit (round 11: the third sketch leg —
# distinct = md5-HLL, frequency = count-min, quantiles = this)
# ---------------------------------------------------------------------------

_QSK_QS = [500_000, 900_000, 990_000]  # p50 / p90 / p99


def _quantile_sketch_sql() -> str:
    qs = ", ".join(str(q) for q in _QSK_QS)
    return f"""
    WITH v AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS v
      FROM documents
    ),
    sk AS (
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, b,
             sum(n) OVER (PARTITION BY source ORDER BY b) AS cum,
             sum(n) OVER (PARTITION BY source) AS n_values
      FROM sk
    ),
    q AS (SELECT unnest([{qs}]) AS q_ppm),
    hit AS (
      SELECT source, q_ppm, min(b) AS b, max(n_values) AS n_values
      FROM cum CROSS JOIN q
      WHERE cum * 1000000 >= n_values * q_ppm
      GROUP BY 1, 2
    ),
    env AS (
      SELECT source, q_ppm, n_values,
             CASE WHEN b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << b) END AS lo,
             CASE WHEN b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << (b + 1)) - 1 END AS hi
      FROM hit
    ),
    ex AS (
      SELECT source, q_ppm, v AS exact_q FROM (
        SELECT source, q_ppm, v,
               row_number() OVER (PARTITION BY source, q_ppm
                                  ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY source, q_ppm) AS n
        FROM v CROSS JOIN q)
      WHERE rn = (n * q_ppm + 999999) // 1000000
    )
    SELECT env.source,
           CAST(env.q_ppm AS BIGINT) AS q_ppm,
           CAST(env.n_values AS BIGINT) AS n_values,
           CAST(ex.exact_q AS BIGINT) AS exact_q,
           CAST(env.lo AS BIGINT) AS lo,
           CAST(env.hi AS BIGINT) AS hi,
           ex.exact_q BETWEEN env.lo AND env.hi AS in_envelope
    FROM env JOIN ex ON env.source = ex.source AND env.q_ppm = ex.q_ppm
    """


@q("quantile_sketch_audit", _quantile_sketch_sql())
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 token-count envelopes from the log2-bucket
    quantile sketch (operators/sketches.py::log2_hist_*) next to the
    exact discrete quantiles — the sketch auditing itself, completing
    the mergeable-sketch family (distinct = md5-HLL ``hll_distinct``,
    frequency = count-min ``cm_heavy_hitters``, quantiles = this). Every
    estimate carries its PROVEN ``[2^b, 2^(b+1)-1]`` envelope — relative
    error ≤ 2× by construction, not probabilistic — and the row asserts
    the exact value lies inside it.

    Scale shape: the sketch is ONE map-side-combining aggregate keyed by
    (source, bucket) — ≤64 rows per source survive no matter how many
    documents scanned; the quantile walk is a window over that ≤64-row
    histogram (metadata-scale). The exact side's per-source sort window
    is the fixture-scale REFEREE (the hll_distinct n_exact pattern);
    production reads the sketch alone, and per-slice sketch states merge
    via log2_hist_merge without rescans."""
    from pyspark.sql import Window

    from pharmacodi_spark.operators.sketches import (
        log2_hist_quantiles,
        log2_hist_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("v"),
    )
    env = log2_hist_quantiles(
        log2_hist_sketch(v, "v", by=["source"]), _QSK_QS, by=["source"]
    )
    w = Window.partitionBy("source").orderBy("v")
    ranked = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("source"))
    )
    ex = (
        ranked.select(
            "source", "v", "rn", "n",
            F.explode(
                F.array(*[F.lit(int(qq)) for qq in _QSK_QS])
            ).alias("q_ppm"),
        )
        .where(F.col("rn") == F.expr("(n * q_ppm + 999999) div 1000000"))
        .select(
            "source",
            F.col("q_ppm").cast("long").alias("q_ppm"),
            F.col("v").alias("exact_q"),
        )
    )
    return env.join(ex, ["source", "q_ppm"]).select(
        "source",
        "q_ppm",
        "n_values",
        "exact_q",
        "lo",
        "hi",
        F.col("exact_q").between(F.col("lo"), F.col("hi")).alias(
            "in_envelope"
        ),
    )


# ---------------------------------------------------------------------------
# Percentile gate answered from MERGED quantile-sketch state (round 12:
# the sketch-maintenance story E2E — VERDICT r11 item 6)
# ---------------------------------------------------------------------------

_PGS_PCT = 20  # keep the top 20% per source


def _percentile_gate_sketch_sql() -> str:
    return f"""
    WITH v AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS v
      FROM documents
    ),
    -- two persisted slices, merged = union + re-sum (count addition is
    -- associative, so this equals sketching the corpus once)
    sk AS (
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v WHERE doc_id % 2 = 0 GROUP BY 1, 2
      UNION ALL
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ),
    merged AS (SELECT source, b, sum(n) AS n FROM sk GROUP BY 1, 2),
    cum AS (
      SELECT source, b,
             sum(n) OVER (PARTITION BY source ORDER BY b DESC) AS cum_top,
             sum(n) OVER (PARTITION BY source) AS n_values
      FROM merged
    ),
    gate AS (
      SELECT source, max(b) AS gate_b, max(n_values) AS n_values
      FROM cum
      WHERE cum_top >= (n_values * {_PGS_PCT}) // 100
        AND (n_values * {_PGS_PCT}) // 100 >= 1
      GROUP BY source
    ),
    g2 AS (
      SELECT source, n_values, gate_b,
             CASE WHEN gate_b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << gate_b) END AS gate_lo,
             CASE WHEN gate_b < 0 THEN 1
                  ELSE (CAST(1 AS BIGINT) << (gate_b + 1))
             END AS gate_hi_excl
      FROM gate
    ),
    thr AS (
      SELECT source, v AS thr FROM (
        SELECT source, v,
               row_number() OVER (PARTITION BY source ORDER BY v DESC)
                 AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM v)
      WHERE rn = (n * {_PGS_PCT}) // 100
    )
    SELECT v.source,
           CAST(max(g2.n_values) AS BIGINT) AS n_values,
           CAST(max(g2.gate_b) AS BIGINT) AS gate_b,
           CAST(max(g2.gate_lo) AS BIGINT) AS gate_lo,
           CAST(sum(CASE WHEN v.v >= g2.gate_hi_excl THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_strict,
           CAST(sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_exact,
           CAST(sum(CASE WHEN v.v >= g2.gate_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_loose,
           (sum(CASE WHEN v.v >= g2.gate_hi_excl THEN 1 ELSE 0 END)
              <= sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END))
           AND (sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END)
              <= sum(CASE WHEN v.v >= g2.gate_lo THEN 1 ELSE 0 END))
             AS in_envelope
    FROM v JOIN g2 ON v.source = g2.source
           JOIN thr ON v.source = thr.source
    GROUP BY v.source
    """


@q("percentile_gate_sketch", _percentile_gate_sketch_sql())
def percentile_gate_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DCLM-style top-p% percentile gate answered from PERSISTED
    per-slice quantile-sketch state (operators/sketches.py::
    log2_hist_top_gate) instead of a corpus rescan — the E2E for the
    r11 sketch family's maintenance story: two doc_id-parity slices
    stand in for per-partition sketch states written by independent
    jobs; :func:`log2_hist_merge` folds them (with INFERRED group keys,
    the r12 guard); the ≤64-row-per-source histogram walk yields the
    gate bucket; and the row ASSERTS the proven envelope against the
    exact tie-keeping gate — ``n_strict ≤ n_exact ≤ n_loose``, where
    strict/loose gate at the bucket's upper/lower bound and the exact
    referee is text/selection.py::percentile_gate's threshold semantics
    (the ⌊n·p/100⌋-th largest score, ties kept).

    Scale shape: sketch = one map-side-combining aggregate per slice
    (≤64 rows/source survive); merge + gate walk are metadata-scale
    windows over the merged histogram; the thresholds broadcast back
    onto the corpus for the gate counts. The exact-threshold referee
    (per-source row_number window) is fixture-scale audit apparatus —
    production reads the sketch alone, which is the point: the gate
    comes from persisted state with NO rescan of history."""
    from pyspark.sql import Window

    from pharmacodi_spark.operators.sketches import (
        log2_hist_merge,
        log2_hist_sketch,
        log2_hist_top_gate,
    )

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("v"),
    )
    slices = [
        log2_hist_sketch(
            v.where(F.col("doc_id") % 2 == i), "v", by=["source"]
        )
        for i in (0, 1)
    ]
    gate = log2_hist_top_gate(log2_hist_merge(*slices), _PGS_PCT)
    w = Window.partitionBy("source").orderBy(F.desc("v"))
    thr = (
        v.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("source")))
        .where(F.col("rn") == F.expr(f"(n * {_PGS_PCT}) div 100"))
        .select("source", F.col("v").alias("thr"))
    )
    strict = F.sum((F.col("v") >= F.col("gate_hi_excl")).cast("int"))
    exact = F.sum((F.col("v") >= F.col("thr")).cast("int"))
    loose = F.sum((F.col("v") >= F.col("gate_lo")).cast("int"))
    return (
        v.join(F.broadcast(gate), "source")
        .join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.max("n_values").cast("long").alias("n_values"),
            F.max("gate_b").cast("long").alias("gate_b"),
            F.max("gate_lo").cast("long").alias("gate_lo"),
            strict.cast("long").alias("n_keep_strict"),
            exact.cast("long").alias("n_keep_exact"),
            loose.cast("long").alias("n_keep_loose"),
            ((strict <= exact) & (exact <= loose)).alias("in_envelope"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered benchmark decontamination (round 12): exact results,
# shuffle mass ∝ contamination instead of corpus grams
# ---------------------------------------------------------------------------


@q(
    "bloom_decontam",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT doc_id, count(*) AS n_collisions
      FROM tg WHERE gh IN (SELECT gh FROM eg) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_collisions, 0) AS BIGINT) AS n_collisions,
           coalesce(n_collisions, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits USING (doc_id)
    """,
)
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through the Bloom-prefiltered path
    (text/cleaning.py::bloom_decontaminate_against) — the oracle is the
    SAME SQL as ``benchmark_decontam``, which is the point: the bitmap
    prefilter changes the physical plan, not one output row. The eval
    slice's distinct 13-gram hashes pack into a 2^20-bit bitmap
    (operators/bloom.py, k=3 xxhash64 probes, all codegen); train gram
    hashes failing any bit test die INSIDE the scan projection, so the
    per-(id, gram) distinct — the exact path's dominant exchange, all
    corpus grams — carries only true collisions plus the ~1% fp band;
    the broadcast semi-join referee then removes the false positives
    (false negatives are impossible). At 100 TB the bitmap is the
    persisted benchmark sidecar (save_bloom_bitmap): 1.25 MB per
    million eval grams, rebuilt only when the benchmark suite changes,
    while every corpus refresh re-screens at scan speed."""
    from pharmacodi_spark.text.cleaning import bloom_decontaminate_against

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 97 != 0)
    ev = d.where(F.col("doc_id") % 97 == 0)
    return bloom_decontaminate_against(train, ev, n=13)


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


# ---------------------------------------------------------------------------
# KMV bottom-k corpus-overlap sketch (round 12): the set-operations leg
# of the mergeable-sketch family (distinct=HLL, frequency=CM,
# quantiles=log2 hist, SET OPS=this)
# ---------------------------------------------------------------------------

_KMV_Q_K = 128


def _kmv_overlap_sql() -> str:
    # floor((k−1)·2^60 / h_k): both factors exact in double (mantissa
    # k−1; 2^60 a power of two), division/floor correctly rounded —
    # bit-identical to the Spark side's _kmv_est
    k = _KMV_Q_K
    est = (
        "CASE WHEN {n} < "
        + str(k)
        + " THEN {n} ELSE CAST(floor("
        + f"{float(k - 1)} * 1152921504606846976.0"
        + " / CAST({hk} AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH t AS (
      SELECT doc_id % 3 AS m,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT m,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t WHERE len(toks) >= 3
    ),
    ha AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g WHERE m IN (0, 1)),
    hb AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g WHERE m IN (1, 2)),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
    un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
           ORDER BY h LIMIT {k}),
    s AS (
      SELECT (SELECT count(*) FROM ka) AS na, (SELECT max(h) FROM ka) AS hka,
             (SELECT count(*) FROM kb) AS nb, (SELECT max(h) FROM kb) AS hkb,
             (SELECT count(*) FROM un) AS nu, (SELECT max(h) FROM un) AS hku,
             (SELECT count(*) FROM un
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)) AS ncom
    )
    SELECT
      CAST({est.format(n="na", hk="hka")} AS BIGINT) AS n_a_est,
      CAST({est.format(n="nb", hk="hkb")} AS BIGINT) AS n_b_est,
      CAST({est.format(n="nu", hk="hku")} AS BIGINT) AS union_est,
      CAST(({est.format(n="nu", hk="hku")} * ncom) // nu AS BIGINT)
        AS inter_est,
      CAST((ncom * 1000000) // nu AS BIGINT) AS jaccard_ppm
    FROM s
    """


@q("kmv_overlap", _kmv_overlap_sql())
def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation from KMV bottom-k sketches
    (operators/sketches.py::kmv_sketch/kmv_set_ops, r12) — "how much of
    the new crawl's shingle space overlaps the old?" answered from two
    ≤k-long sketches, never joining the corpora. Two document slices
    (doc_id % 3 ∈ {0,1} vs {1,2} — a real planted overlap) shingle into
    3-token windows (~13k distinct per slice at sf0.01, saturating
    k=128 so the ORDER-STATISTIC estimator — not the exact fallback —
    is what the oracle certifies); the combined bottom-k is itself the
    union's KMV sketch (the closure property), its in-both fraction the
    Jaccard estimate, everything deterministic md5 + integer/IEEE
    fixed-point.

    Scale shape (100 TB): each sketch is two map-side-combining
    aggregates — ≤ fan_in·k longs per group reach the exchange no
    matter the corpus size — and the overlap math joins two ONE-ROW
    relations. The exact alternative (bloom_decontam's semi-join or a
    distinct-distinct join) shuffles the full shingle space."""
    from pharmacodi_spark.operators.sketches import kmv_set_ops, kmv_sketch

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.select((F.col("doc_id") % 3).alias("m"), toks.alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = t.select(
        "m",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.array_join(F.slice("toks", i, 3), " "),
            )
        ).alias("sh"),
    )
    ska = kmv_sketch(sh.where(F.col("m").isin(0, 1)), "sh", k=_KMV_Q_K)
    skb = kmv_sketch(sh.where(F.col("m").isin(1, 2)), "sh", k=_KMV_Q_K)
    return kmv_set_ops(ska, skb, k=_KMV_Q_K)


# ---------------------------------------------------------------------------
# Sorted-neighborhood candidate pairs (round 12): the sort-order
# complement to hash blocking — linear candidate mass by construction
# ---------------------------------------------------------------------------


@q(
    "snm_candidate_pairs",
    """
    WITH k AS (
      SELECT doc_id, substr(text, 1, 16) AS sk FROM documents
    ),
    p AS (
      SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS pos FROM k
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.pos - a.pos AS BIGINT) AS pos_gap
    FROM p a JOIN p b ON b.pos - a.pos BETWEEN 1 AND 2
    """,
)
def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs (text/dedup.py::
    sorted_neighborhood_pairs, r12 — Hernández & Stolfo SIGMOD'95): sort
    by the classic normalized-prefix key (first 16 chars) and emit rows
    within 2 positions. The sort-order complement to the LSH/SimHash
    bucket families: prefix-sharing near-dups that hash apart are
    adjacent here, and the candidate mass is EXACTLY (window−1)·n —
    linear by construction, the one blocking scheme with no hot-bucket
    quadratic term to guard.

    Scale shape: positions via surrogate_key (dense_global=True at fact
    scale: range-partition + broadcast offset fixup, no single-task
    window); then ONE position equi-join over (id, pos) tuples — bodies
    never shuffle; the window fan-out is a bounded constant."""
    from pharmacodi_spark.text.dedup import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.substring("text", 1, 16).alias("sk")
    )
    return sorted_neighborhood_pairs(
        keyed, sort_key="sk", id_col="doc_id", window=3
    )


_KMV_MX_K = 64


def _kmv_matrix_sql() -> str:
    k = _KMV_MX_K
    est = (
        "CASE WHEN {n} < "
        + str(k)
        + " THEN {n} ELSE CAST(floor("
        + f"{float(k - 1)} * 1152921504606846976.0"
        + " / CAST({hk} AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH t AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t WHERE len(toks) >= 3
    ),
    hh AS (SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g),
    ks AS (SELECT source, h FROM (
             SELECT source, h,
                    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM hh) WHERE rn <= {k}),
    srcs AS (SELECT DISTINCT source FROM ks),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM srcs a JOIN srcs b ON a.source < b.source),
    uh AS (
      SELECT DISTINCT p.source_a, p.source_b, k1.h
      FROM pairs p JOIN ks k1
        ON k1.source = p.source_a OR k1.source = p.source_b
    ),
    ub AS (SELECT source_a, source_b, h FROM (
             SELECT source_a, source_b, h,
                    row_number() OVER (PARTITION BY source_a, source_b
                                       ORDER BY h) AS rn
             FROM uh) WHERE rn <= {k}),
    st AS (
      SELECT u.source_a, u.source_b, count(*) AS nu, max(u.h) AS hku,
             sum(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS ncom
      FROM ub u
      LEFT JOIN ks ka ON ka.source = u.source_a AND ka.h = u.h
      LEFT JOIN ks kb ON kb.source = u.source_b AND kb.h = u.h
      GROUP BY 1, 2
    ),
    sa AS (SELECT source, count(*) AS n, max(h) AS hk FROM ks GROUP BY 1),
    fin AS (
      SELECT st.source_a, st.source_b, st.nu, st.ncom,
             CAST({est.format(n="a.n", hk="a.hk")} AS BIGINT) AS n_a_est,
             CAST({est.format(n="b.n", hk="b.hk")} AS BIGINT) AS n_b_est,
             CAST({est.format(n="st.nu", hk="st.hku")} AS BIGINT)
               AS union_est
      FROM st
      JOIN sa a ON a.source = st.source_a
      JOIN sa b ON b.source = st.source_b
    )
    SELECT source_a, source_b, n_a_est, n_b_est, union_est,
           CAST((union_est * ncom) // nu AS BIGINT) AS inter_est,
           CAST((ncom * 1000000) // nu AS BIGINT) AS jaccard_ppm
    FROM fin
    """


@q("kmv_source_matrix", _kmv_matrix_sql())
def kmv_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs source-overlap surface from per-source KMV sketches
    (operators/sketches.py::kmv_overlap_matrix, r12) — "which sources
    duplicate each other?" as one row per unordered source pair with
    distinct/union/intersection/Jaccard estimates. 20 sources at any sf
    → a fixed 190-row matrix, every estimate deterministic md5 +
    integer/IEEE fixed-point (bit-identical to the oracle's
    row_number-bottom-k + `//` arithmetic).

    Scale shape (100 TB): the per-source sketches are ONE bounded
    aggregate over the corpus (≤ fan_in·k longs per source reach the
    exchange); the S·(S−1)/2 pair expansion then runs on S rows of ≤k
    longs — index metadata, broadcast-size — so the overlap surface
    costs one corpus scan regardless of S, where the exact alternative
    is S² corpus self-joins."""
    from pharmacodi_spark.operators.sketches import (
        kmv_overlap_matrix,
        kmv_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.select("source", toks.alias("toks")).where(F.size("toks") >= 3)
    sh = t.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.array_join(F.slice("toks", i, 3), " "),
            )
        ).alias("sh"),
    )
    sk = kmv_sketch(sh, "sh", k=_KMV_MX_K, by=["source"])
    return kmv_overlap_matrix(sk, key="source", k=_KMV_MX_K)
