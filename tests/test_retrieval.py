"""BM25 fixed-point retrieval: exact equality vs an independent pure-Python
reimplementation, plus the ilog2_fp contract (monotone, bounded error)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pharmacodi_spark.text.retrieval import FP_BITS, bm25_scores, ilog2_fp


def _py_ilog2_fp(x: int, s: int = FP_BITS) -> int:
    e = x.bit_length() - 1
    m = x - (1 << e)
    frac = (m << (s - e)) if e <= s else (m >> (e - s))
    return (e << s) + frac


def _py_bm25(docs: dict[int, str], terms: list[str], k: int = 20):
    s = FP_BITS
    toks = {i: [t for t in text.split(" ") if t] for i, text in docs.items()}
    n_docs = len(docs)
    t_tokens = sum(len(v) for v in toks.values())
    dl = {i: len(v) for i, v in toks.items()}
    tf: dict[tuple[int, str], int] = {}
    for i, ts in toks.items():
        for t in ts:
            if t in terms:
                tf[(i, t)] = tf.get((i, t), 0) + 1
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores: dict[int, list[int]] = {}
    for (i, t), f_ in tf.items():
        x = max(((2 * n_docs + 2) << s) // (2 * df[t] + 1), 1)
        idf = _py_ilog2_fp(x, s) - (s << s)
        tfn = ((22 * f_ * t_tokens) << s) // (
            10 * f_ * t_tokens + 3 * t_tokens + 9 * dl[i] * n_docs
        )
        scores.setdefault(i, []).append(idf * tfn)
    out = [(i, len(v), sum(v)) for i, v in scores.items()]
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:k]


def test_ilog2_fp_monotone_and_bounded(spark):
    xs = list(range(1, 2049)) + [10**6, 10**12, (1 << 62) - 1]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {
        r["x"]: r["y"]
        for r in df.select("x", ilog2_fp(F.col("x")).alias("y")).collect()
    }
    prev = None
    for x in xs:
        assert got[x] == _py_ilog2_fp(x), x
        # linear-interp peak error 0.08607 bits + 1/1024 floor quantization
        assert abs(got[x] / (1 << FP_BITS) - math.log2(x)) < 0.0871, x
        if prev is not None and x == prev + 1:
            assert got[x] >= got[prev]
        prev = x


def test_bm25_matches_python_reference(spark):
    docs = {
        1: "table scan merge table table window",
        2: "merge merge merge",
        3: "window scan",
        4: "the a of and to in is",          # no query terms -> absent
        5: "table " * 50,                    # long doc, tf saturation
        6: "scan",                           # short doc boost
        7: "",                               # empty doc
    }
    terms = ["table", "scan", "window", "merge"]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["n_hit_terms"], r["score_fp"])
        for r in bm25_scores(sdf, terms, k=20).collect()
    ]
    assert got == _py_bm25(docs, terms)
    # rarer-term doc ranks above the stopword-free doc set floor:
    # every returned score is positive (Lucene idf is non-negative)
    assert all(s > 0 for _, _, s in got)


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF must surface docs ranked well by EITHER system, and a doc in
    both lists must beat a doc at the same rank in only one."""
    from pharmacodi_spark.text.retrieval import bm25_scores, hybrid_rrf_topk
    from pharmacodi_spark.text.similarity import int8_weighted_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    terms = ["table", "scan", "window", "merge"]
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    out = hybrid_rrf_topk(docs, emb, terms, weights, cand=20).collect()
    assert len(out) == 10
    # fused order is non-increasing, ids break ties ascending
    for a, b in zip(out, out[1:]):
        assert (a.rrf_fp, -a.doc_id) >= (b.rrf_fp, -b.doc_id)
    # every fused doc came from at least one candidate list
    bm_ids = {r.doc_id for r in bm25_scores(docs, terms, k=20).collect()}
    ann_ids = {
        r.vec_id for r in int8_weighted_topk(emb, weights, k=20).collect()
    }
    for r in out:
        assert r.doc_id in bm_ids | ann_ids
        in_both = r.doc_id in bm_ids and r.doc_id in ann_ids
        if in_both:
            assert r.text_rank is not None and r.vec_rank is not None
    # a doc present in BOTH lists outscores one with only its text rank
    both = [r for r in out if r.text_rank and r.vec_rank]
    only = [r for r in out if (r.text_rank is None) ^ (r.vec_rank is None)]
    if both and only:
        assert max(r.rrf_fp for r in both) > min(r.rrf_fp for r in only)
