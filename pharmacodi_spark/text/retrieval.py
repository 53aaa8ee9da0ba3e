"""Corpus retrieval scoring (north star: training-data pipelines need a
ranker for quality-biased sampling and RAG-style evidence lookup).

BM25 with ALL-INTEGER fixed-point math so Spark and DuckDB agree
bit-for-bit.  libm ``ln``/``log`` are only ~1-ulp accurate and can differ
across engines, so the log2 inside the IDF term is computed as a
fixed-point integer: ``ilog2_fp(x, s) = (e << s) + ((x - 2^e) << s) >> e``
where ``e = floor(log2 x)`` (exact via ``length(bin(x)) - 1``; the
divisor is a power of two, so the division is an arithmetic shift).
That is log2 with linear mantissa interpolation — monotone in ``x``,
max error < 0.0861 + 2^-frac_bits bits (linear-interp peak at mantissa 1/ln 2, plus floor quantization), and (the point) a pure integer formula every
engine evaluates identically.  Same philosophy as
``corpus.unigram_surprisal``'s ``length(bin(x))-1`` quantization, with
10 fractional bits instead of whole-bit resolution.

Scale shape (100 TB): the token stream collapses map-side to per-doc
lengths and per-(doc, term) counts; the document-frequency table has one
row per QUERY TERM (broadcast); corpus totals ride in-plan as a 1-row
broadcast aggregate.  The only fact-scale shuffle key is ``doc_id``.
Top-k is TakeOrderedAndProject (per-partition heaps, no global sort).

Fixed-point ranges: with S=10 fractional bits the tf-normalization
numerator is ``22·tf·T·2^S`` — safe under int64 for corpora up to
~2·10^13 tokens at tf≤20; shrink S (or move the two div sites to
decimal(38,0)) beyond that.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.text.similarity import SCORER_BATCH_ROWS, VEC_QUANT

#: fixed-point fractional bits shared by the Spark and oracle twins
FP_BITS = 10


def ilog2_fp(x: Column, frac_bits: int = FP_BITS) -> Column:
    """Fixed-point ``log2`` of a positive integer column (caller
    guarantees ``x >= 1``): ``(e << s) + (((x - 2^e) << s) >> e)``.

    Pure integer shifts — the interpolation divisor is ``2^e`` — so the
    result is bit-identical in Spark and DuckDB and monotone
    non-decreasing in ``x``.
    """
    x = x.cast("long")
    e = (F.length(F.bin(x)) - 1).cast("int")
    # F.shiftleft/shiftright only accept literal shift counts from Python;
    # the SQL functions accept column counts — call them directly.
    pow_e = F.call_function("shiftleft", F.lit(1).cast("long"), e)
    mantissa = x - pow_e
    # ((x-2^e) << s) >> e would overflow int64 for e > 63-s; shifting the
    # excess out FIRST is exact (floor(a·2^s/2^e) = floor(a/2^(e-s))) and
    # keeps the full int64 domain.
    frac = F.when(
        e <= F.lit(frac_bits),
        F.call_function("shiftleft", mantissa, F.lit(frac_bits) - e),
    ).otherwise(F.call_function("shiftright", mantissa, e - F.lit(frac_bits)))
    return (F.shiftleft(e.cast("long"), frac_bits) + frac).cast("long")


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    k: int = 20,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by fixed-point BM25 (k1=1.2, b=0.75).

    Per (doc, term):  ``score = idf_fp(term) * tf_norm_fp(doc, term)``
    with (all integer, S = FP_BITS fractional bits):

    - ``idf_fp  = ilog2_fp(((2N+2) << S) div (2df+1)) - (S<<S)``
      — the Lucene BM25 idf ``log(1 + (N-df+0.5)/(df+0.5))`` in base-2
      fixed point: the +1 makes ``(N-df+0.5)/(df+0.5) + 1 = (2N+2)/(2df+1)``
      — strictly positive for every df, so stop-words damp instead of
      flipping the score's sign (the non-negative variant Lucene adopted
      for exactly this reason).
    - ``tf_norm_fp = (22·tf·T << S) div (10·tf·T + 3·T + 9·dl·N)``
      — ``tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))`` with ``avgdl = T/N``
      cleared of fractions by multiplying through by ``10·T``
      (k1 = 6/5, b = 3/4 as exact rationals).

    Plan: tokens are filtered to the query terms immediately after the
    split (selectivity |terms|/|vocab|); per-doc lengths aggregate
    map-side; document frequencies and corpus totals broadcast.  Result
    ordered (score desc, id) so top-k membership is deterministic.
    """
    s = FP_BITS
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(content_col), " ")).alias("token")
    ).where(F.col("token") != "")

    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    # T from the per-doc lengths (vocabulary-of-docs-sized input) instead
    # of a second full corpus explode; N from the docs scan directly — a
    # metadata-only count (ReadSchema struct<>, parquet footers).
    totals = dl.agg(F.sum("dl").alias("t_tokens")).crossJoin(
        docs.agg(F.count("*").alias("n_docs"))
    )

    hits = toks.where(F.col("token").isin(list(query_terms)))
    tf = hits.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))

    joined = (
        tf.join(F.broadcast(dft), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.shiftleft((2 * F.col("n_docs") + 2).cast("long"), s).alias("idf_num"),
            (2 * F.col("df") + 1).cast("long").alias("idf_den"),
            F.shiftleft((22 * F.col("tf") * F.col("t_tokens")).cast("long"), s).alias(
                "tfn_num"
            ),
            (
                10 * F.col("tf") * F.col("t_tokens")
                + 3 * F.col("t_tokens")
                + 9 * F.col("dl") * F.col("n_docs")
            )
            .cast("long")
            .alias("tfn_den"),
        )
    )
    per_term = joined.select(
        F.col(id_col),
        (
            (
                ilog2_fp(
                    F.greatest(F.expr("idf_num div idf_den"), F.lit(1).cast("long")), s
                )
                - F.lit(s << s).cast("long")
            )
            * F.expr("tfn_num div tfn_den")
        )
        .cast("long")
        .alias("term_score"),
    )
    agg = per_term.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_hit_terms"),
        F.sum("term_score").cast("long").alias("score_fp"),
    )
    return agg.orderBy(F.col("score_fp").desc(), F.col(id_col)).limit(k)


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: "Sequence[str]",
    query_weights: "Sequence[int]",
    *,
    cand: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid retrieval: fuse the lexical (BM25) and vector (int8 dot)
    candidate lists with Reciprocal Rank Fusion — the standard production
    shape for RAG search (sparse catches exact terms, dense catches
    paraphrase; RRF needs no score calibration between the two systems).

    Each retriever contributes its top-``cand`` candidates; a document's
    fused score is ``Σ_systems 2^20 div (60 + rank)``
    (integer fixed point — engine-exact, unlike float 1/(k+r) sums whose
    addition order varies). Documents found by only one system get only
    that term. Ties break (fused desc, id).

    Scale shape: both retrievers end in TakeOrderedAndProject heaps; the
    fusion operates on 2·``cand`` rows — driver-bounded by construction
    (the single-task rank windows are over the candidate lists, NOT the
    corpus), so the whole fusion stage is metadata-scale regardless of
    corpus size.
    """
    from pyspark.sql import Window

    from pharmacodi_spark.text.similarity import int8_weighted_topk

    scale = 1 << 20
    bm = bm25_scores(docs, query_terms, k=cand, id_col=id_col)
    wb = Window.orderBy(F.col("score_fp").desc(), F.col(id_col))
    bm_r = bm.select(
        F.col(id_col), F.row_number().over(wb).cast("long").alias("text_rank")
    )
    ann = int8_weighted_topk(emb, list(query_weights), k=cand, id_col=vec_id_col)
    wa = Window.orderBy(F.col("qdot").desc(), F.col(vec_id_col))
    ann_r = ann.select(
        F.col(vec_id_col).alias(id_col),
        F.row_number().over(wa).cast("long").alias("vec_rank"),
    )
    fused = bm_r.join(ann_r, id_col, "full_outer").select(
        id_col,
        "text_rank",
        "vec_rank",
        (
            F.coalesce(
                F.expr(f"{scale} div (60 + text_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{scale} div (60 + vec_rank)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_fp"),
    )
    return fused.orderBy(F.col("rrf_fp").desc(), F.col(id_col)).limit(10)


def rerank_with_scorer(
    candidates: "DataFrame",
    scorer,
    query_col: str = "query",
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
):
    """Cross-encoder re-rank seam: score (query, document) candidate pairs
    with an INJECTED model — the final precision stage of a retrieval
    stack (BM25 / ANN recall → cross-encoder precision).  ``scorer`` is
    any callable ``(list[str], list[str]) -> list[float]`` over aligned
    query/document batches — production passes a sentence-transformers
    cross-encoder's ``predict``; tests pass a deterministic function (the
    ``sources/api.py`` injected-transport discipline: the model boundary
    is a seam, the orchestration is real dataflow).

    Runs inside ``mapInPandas`` — model inference happens executor-side
    in Arrow batches sliced to ``SCORER_BATCH_ROWS`` (GPU-friendly), candidate
    text never moves to the driver.  Output adds ``ce_score`` (double)
    and, with ``k``, keeps the top-k per query via a per-query window
    (candidate lists are bounded, so the window is metadata-scale).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import Window

    schema = f"{query_col} string, {id_col} long, ce_score double"
    slim = candidates.select(
        F.col(query_col).cast("string"),
        F.col(id_col).cast("long"),
        F.col(content_col).cast("string"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(0, len(pdf), SCORER_BATCH_ROWS):
                chunk = pdf.iloc[i : i + SCORER_BATCH_ROWS]
                scores = scorer(
                    chunk[query_col].tolist(), chunk[content_col].tolist()
                )
                yield pd.DataFrame(
                    {
                        query_col: chunk[query_col].values,
                        id_col: chunk[id_col].values,
                        "ce_score": [float(s) for s in scores],
                    }
                )

    out = slim.mapInPandas(run, schema=schema)
    if k is not None:
        w = Window.partitionBy(query_col).orderBy(
            F.desc("ce_score"), F.asc(id_col)
        )
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("rank", F.col("rank").cast("long"))
        )
    return out


def ilog2_fp_py(x: int) -> int:
    """Pure-Python twin of :func:`ilog2_fp` for driver-side metadata
    (rank-discount tables, fixed-point constants): same shift-first
    formula, same floor quantization, exact for any positive int."""
    frac_bits = FP_BITS
    assert x >= 1
    e = x.bit_length() - 1
    m = x - (1 << e)
    if e <= frac_bits:
        frac = m << (frac_bits - e)
    else:
        frac = m >> (e - frac_bits)
    return (e << frac_bits) + frac


def ndcg_discounts(k: int) -> list[int]:
    """The nDCG rank-discount table ``1/log2(i+1)`` for ranks 1..k in
    fixed point: ``disc[i] = FP² div ilog2_fp(i+1)`` — positive-integer
    truncating division, identical in every engine; ``disc[1] = FP``
    exactly (log2 2 = 1 is exact in the interpolation)."""
    fp = 1 << FP_BITS
    return [(fp * fp) // ilog2_fp_py(i + 1) for i in range(1, k + 1)]


def retrieval_ndcg(
    df: DataFrame,
    k: int = 10,
    query_mod: int = 23,
    max_probes: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Graded retrieval-quality metrics over the embedding column:
    per-probe nDCG@k (ppm) and MRR (milli) with label-match relevance —
    the ranking-quality referee next to knn_label_eval's classification
    vote (a retrieval stack can vote the right label while burying the
    relevant items at ranks 8–10; nDCG is what catches that).

    Exactness: integer-quantized dots rank candidates (ties → lower id);
    the log2 rank discounts are a driver-side fixed-point table
    (:func:`ndcg_discounts`) shared verbatim with the oracle SQL literal;
    IDCG is a prefix-sum lookup ``psum[min(n_rel_pool, k)]`` — every
    division a positive-integer truncation, bit-identical cross-engine.

    Scale shape: the probe sample is BUDGETED, not proportional —
    ``id % query_mod == 0 AND id < query_mod·max_probes`` caps the
    sample at ``max_probes`` rows, so eval work grows LINEARLY with the
    corpus (``max_probes·n`` dots) instead of quadratically
    (``n²/query_mod`` — the r10 sf1 pair measured exactly that blowup
    before the cap: 4.4× wall at 10× data). The capped sample broadcasts
    against the corpus scan — the corpus never shuffles to form pairs;
    the only shuffle is the per-probe ranking window keyed by probe id;
    the discount/prefix tables are k-length literals."""
    from pyspark.sql import Window

    disc = ndcg_discounts(k)
    psum = [0]
    for d in disc:
        psum.append(psum[-1] + d)
    disc_arr = F.array(*[F.lit(d).cast("long") for d in disc])
    psum_arr = F.array(*[F.lit(p).cast("long") for p in psum[1:]])

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * VEC_QUANT + F.lit(0.5)).cast(
            "long"
        ),
    )
    base = df.select(F.col(id_col), F.col(label_col), q.alias("__q"))
    probes = base.where(
        (F.col(id_col) % query_mod == 0)
        & (F.col(id_col) < query_mod * max_probes)
    ).select(
        F.col(id_col).alias("__qid"),
        F.col(label_col).alias("__qlabel"),
        F.col("__q").alias("__qv"),
    )
    pairs = base.join(
        F.broadcast(probes), F.col(id_col) != F.col("__qid")
    ).select(
        "__qid",
        "__qlabel",
        F.col(id_col).alias("__cid"),
        (F.col(label_col) == F.col("__qlabel")).cast("int").alias("__rel"),
        F.aggregate(
            F.zip_with("__q", "__qv", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("__dot"),
    )
    w = Window.partitionBy("__qid").orderBy(
        F.desc("__dot"), F.asc("__cid")
    )
    rnk = pairs.withColumn("__rn", F.row_number().over(w))
    hit = (F.col("__rn") <= k) & (F.col("__rel") == 1)
    agg = rnk.groupBy("__qid").agg(
        F.first("__qlabel").alias(label_col),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_rel_topk"),
        F.sum("__rel").cast("long").alias("n_rel_pool"),
        F.sum(
            F.when(hit, F.element_at(disc_arr, F.col("__rn"))).otherwise(0)
        )
        .cast("long")
        .alias("dcg_fp"),
        F.min(F.when(hit, F.col("__rn"))).alias("__first_hit"),
    )
    with_idcg = agg.withColumn(
        "__idcg",
        F.when(
            F.col("n_rel_pool") > 0,
            F.element_at(
                psum_arr,
                F.least(F.col("n_rel_pool"), F.lit(k)).cast("int"),
            ),
        ).otherwise(F.lit(None).cast("long")),
    )
    return with_idcg.select(
        F.col("__qid").alias(id_col),
        label_col,
        "n_rel_topk",
        "n_rel_pool",
        "dcg_fp",
        F.coalesce(
            F.expr("(dcg_fp * 1000000) div __idcg"), F.lit(0)
        )
        .cast("long")
        .alias("ndcg_ppm"),
        F.coalesce(
            F.expr("1000 div __first_hit"), F.lit(0)
        )
        .cast("long")
        .alias("mrr_milli"),
    )
