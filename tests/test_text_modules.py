"""Tests for the text/similarity/multimodal library modules (north-star
components beyond the oracle-checked plans)."""

from __future__ import annotations

import pytest

import random

from pyspark.sql import functions as F

from pharmacodi_spark.multimodal import MEDIA_SCHEMA, extract_features, frame_sample_plan, resize_plan
from pharmacodi_spark.text.analysis import language_scores, text_features, token_counts
from pharmacodi_spark.text.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)
from pharmacodi_spark.text.similarity import cosine_topk, hyperplane_buckets, lsh_bucket_topk


def _docs(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _emb(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_exact_dedup_keeps_min_id(spark):
    d = _docs(spark)
    out = exact_dedup(d)
    n_distinct = d.select(F.md5("text")).distinct().count()
    assert out.count() == n_distinct
    # survivors are the min doc_id of each content group
    joined = out.alias("o").join(
        d.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("keeper")),
        F.md5(F.col("o.text")) == F.col("h"),
    )
    assert joined.where(F.col("o.doc_id") != F.col("keeper")).count() == 0


def test_minhash_near_dups_catch_exact_dups(spark):
    d = _docs(spark)
    dups = (
        d.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .collect()
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(d, num_hashes=8).collect()
    }
    for row in dups:
        ids = sorted(row.ids)
        assert (ids[0], ids[1]) in pairs  # exact dups must be candidates
    sig = minhash_signatures(d, num_hashes=8)
    assert len(sig.columns) == 9 and sig.count() == d.count()


def test_simhash_pairs(spark):
    d = _docs(spark)
    sim = simhash(d, bits=32)
    assert sim.count() == d.count()
    pairs = simhash_near_pairs(sim, max_hamming=0, prefix_bits=8, bits=32)
    # exact duplicate texts → identical simhash → hamming 0 pairs exist
    n_dup_groups = d.groupBy("text").count().where("count > 1").count()
    if n_dup_groups:
        assert pairs.count() >= n_dup_groups


def test_simhash_default_64_bits(spark):
    """The production default (bits=64) must run — bit 63 is the signed-long
    sign bit, which the mask construction has to handle (VERDICT r1 item 2)."""
    d = _docs(spark)
    sim = simhash(d)  # bits=64 default
    rows = sim.limit(5).collect()
    assert len(rows) == 5
    # fingerprints use the full width: some row in the corpus should have the
    # high bit set (statistically certain for 500 docs of random-ish text)
    n_hi = sim.where(F.col("simhash") < 0).count()
    assert n_hi > 0, "no fingerprint uses bit 63 — mask construction suspect"
    pairs = simhash_near_pairs(sim, max_hamming=0, prefix_bits=12)  # bits=64 default
    n_dup_groups = d.groupBy("text").count().where("count > 1").count()
    if n_dup_groups:
        assert pairs.count() >= n_dup_groups
    # mismatched width must be rejected loudly, not silently degrade
    import pytest as _pytest

    with _pytest.raises(AssertionError):
        simhash_near_pairs(sim, prefix_bits=64, bits=64)


def test_connected_components_and_droplist(spark, cc_path):
    from pharmacodi_spark.text.clusters import connected_components, near_dup_droplist

    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}; 30 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        ["doc_a", "doc_b"],
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30]],
                                ["doc_id"])
    dl = {r.doc_id: (r.component, r.keep) for r in near_dup_droplist(ids, pairs).collect()}
    assert dl[30] == (30, True)  # singleton keeps itself
    assert dl[1] == (1, True) and dl[4] == (1, False)
    assert sum(1 for c, k in dl.values() if k) == 4  # one keeper per cluster + singleton


def test_connected_components_long_path(spark, cc_path):
    """Pointer-jumping (r12): a PATH graph contracts by only ~1 node per
    plain min-contraction round, so any >max_iter-long transitive chain
    used to raise "not converged" — the composed contraction maps
    (CC_POINTER_JUMPS from round CC_COMPOSE_AFTER) make the residual
    round count O(log diameter). 24-node path under max_iter=12: raises
    without composition, converges with it, labels = component min. The
    driver finish labels it in one pass."""
    from pyspark.sql import functions as F

    from pharmacodi_spark.text.clusters import connected_components

    edges = spark.range(23).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    comp = {
        r.node: r.component
        for r in connected_components(
            edges, edges_canonical=True, max_iter=12
        ).collect()
    }
    assert comp == {i: 0 for i in range(24)}


@pytest.mark.parametrize(
    "edges,expect",
    [
        # two cliques (K5, K4), edges listed in both directions
        (
            [(a, b) for a in range(5) for b in range(5) if a != b]
            + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)],
            {**{i: 0 for i in range(5)}, **{i: 10 for i in range(10, 14)}},
        ),
        # disjoint components; the minimum id is not an edge's first field
        (
            [(7, 3), (3, 9), (40, 41), (100, 50), (50, 60)],
            {7: 3, 3: 3, 9: 3, 40: 40, 41: 40, 100: 50, 50: 50, 60: 50},
        ),
        # string ids: labels order like Spark's min over strings
        (
            [("b", "a"), ("c", "b"), ("x", "y"), ("é", "z")],
            {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z", "é": "z"},
        ),
    ],
    ids=["cliques", "disjoint", "string_ids"],
)
def test_connected_components_shapes(spark, cc_path, edges, expect):
    from pharmacodi_spark.text.clusters import connected_components

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = connected_components(df)
    assert out.schema["node"].dataType == df.schema["doc_a"].dataType
    assert {r.node: r.component for r in out.collect()} == expect


def test_connected_components_empty(spark, cc_path):
    from pharmacodi_spark.text.clusters import connected_components, near_dup_droplist

    edges = spark.createDataFrame([], "doc_a string, doc_b string")
    out = connected_components(edges, edges_canonical=True)
    assert out.collect() == []
    assert [f.dataType.simpleString() for f in out.schema] == ["string", "string"]
    ids = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    dl = sorted(tuple(r) for r in near_dup_droplist(ids, edges).collect())
    assert dl == [("a", "a", True), ("b", "b", True)]


def test_cosine_topk_and_lsh(spark):
    e = _emb(spark)
    rng = random.Random(7)
    query = [rng.uniform(-1, 1) for _ in range(64)]
    exact = cosine_topk(e, query, k=10)
    rows = exact.collect()
    assert len(rows) == 10
    assert rows[0].cosine >= rows[-1].cosine

    planes = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(6)]
    bucketed = hyperplane_buckets(e, planes)
    assert bucketed.select("bucket").distinct().count() > 1

    approx = lsh_bucket_topk(e, query, planes, k=10, probe_hamming=2)
    arows = approx.collect()
    assert 0 < len(arows) <= 10
    # approx candidates are a subset of the corpus ranked identically:
    # recall@10 vs exact should be positive with multiprobe
    exact_ids = {r.vec_id for r in rows}
    hit = sum(1 for r in arows if r.vec_id in exact_ids)
    assert hit >= 1


def test_ivf_train_assign_probe(spark):
    """IVF production path: k-means|| centroids (pyspark.ml), native argmin
    assignment, nprobe probe — recall vs exact brute force must be positive
    and assignment must be total + in-range."""
    from pharmacodi_spark.text.similarity import (
        ivf_assign,
        ivf_topk,
        train_ivf_centroids,
    )

    e = _emb(spark)
    cents = train_ivf_centroids(e, n_centroids=8, max_iter=5)
    assert len(cents) == 8 and len(cents[0]) == 64
    assigned = ivf_assign(e, cents)
    assert assigned.where(F.col("centroid_id").isNull()).count() == 0
    assert assigned.where(
        (F.col("centroid_id") < 0) | (F.col("centroid_id") >= 8)
    ).count() == 0
    # every centroid cell is non-trivially populated on the kmeans it trained
    assert assigned.select("centroid_id").distinct().count() >= 4

    rng = random.Random(11)
    query = [rng.uniform(-1, 1) for _ in range(64)]
    exact_ids = {r.vec_id for r in cosine_topk(e, query, k=10).collect()}
    approx = ivf_topk(e, cents, query, k=10, nprobe=3)
    arows = approx.collect()
    assert 0 < len(arows) <= 10
    assert sum(1 for r in arows if r.vec_id in exact_ids) >= 1  # recall > 0


def test_text_features_and_lang(spark):
    d = _docs(spark)
    feats = text_features(d)
    row = feats.where(F.col("n_words") > 0).first()
    assert 0 <= row.repetition_ratio <= 1 and row.mean_word_len > 0
    tc = token_counts(d).first()
    assert tc.n_subword_tokens >= tc.n_words > 0
    langs = language_scores(d)
    assert langs.where(F.col("pred_lang") == "unknown").count() < d.count()


def test_corpus_idf_tfidf_ngrams(spark):
    import math

    from pharmacodi_spark.text.corpus import (
        doc_frequency,
        idf_table,
        tfidf_top_terms,
        top_ngrams,
    )

    d = _docs(spark)
    n = d.count()
    idf = idf_table(d)
    row = idf.orderBy(F.col("df_count").desc()).first()
    # most frequent token appears in ≤ N docs, idf = ln(N/df)
    assert row.df_count <= n
    assert abs(row.idf - math.log(n / row.df_count)) < 1e-9
    # df_count is a per-doc count, not an occurrence count
    assert doc_frequency(d).agg(F.max("df_count")).first()[0] <= n

    top = tfidf_top_terms(d)
    per_doc = top.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert per_doc <= 3 and top.count() > 0

    grams = top_ngrams(d, k=5).collect()
    assert len(grams) == 5
    assert grams[0].n_occurrences >= grams[-1].n_occurrences
    assert all(" " in g.ngram or g.n_occurrences >= 1 for g in grams)


def test_strip_repeated_lines_and_redact(spark):
    from pharmacodi_spark.text.cleaning import redact_pii, strip_repeated_lines

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nCOOKIE BANNER\nunique beta"),
            (2, "COOKIE BANNER\nother text"),
            (3, "COOKIE BANNER"),
            (4, "all mine\nentirely"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in strip_repeated_lines(docs).collect()}
    assert out[1].cleaned == "unique alpha\nunique beta" and out[1].n_removed == 1
    assert out[2].cleaned == "other text"
    assert out[3].cleaned == "" and out[3].n_removed == 1  # fully boilerplate
    assert out[4].cleaned == "all mine\nentirely" and out[4].n_removed == 0

    pii = spark.createDataFrame(
        [(1, "mail a.b@x.io and 555-123-4567 from 192.168.0.1 twice a.b@x.io")],
        ["doc_id", "text"],
    )
    r = redact_pii(pii).first()
    assert r.text_redacted == "mail [EMAIL] and [PHONE] from [IP] twice [EMAIL]"
    assert r.n_redactions == 4


@pytest.mark.slow
def test_pq_encode_adc(spark):
    from pharmacodi_spark.text.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    # 4-dim vectors, M=2 subspaces; explicit codebooks → hand-checkable codes
    books = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[0.0, 5.0], [5.0, 0.0]],
    ]
    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0, 4.0]),
            (2, [9.0, 10.0, 5.0, 1.0]),
            (3, [10.0, 10.0, 0.0, 5.0]),
        ],
        ["vec_id", "embedding"],
    )
    enc = {r.vec_id: list(r.pq_code) for r in pq_encode(df, books).collect()}
    assert enc == {1: [0, 0], 2: [1, 1], 3: [1, 0]}
    # ADC: query equal to a codebook-pure vector ranks its encoding at d2=0
    out = pq_adc_topk(df, books, [10.0, 10.0, 0.0, 5.0], k=3).collect()
    assert [r.vec_id for r in out] == [3, 2, 1]
    assert out[0].d2_adc == 0.0 and out[1].d2_adc == 50.0
    # pre-encoded corpus path (probe never touches the vectors)
    pre = pq_encode(df, books)
    out2 = pq_adc_topk(
        pre, books, [10.0, 10.0, 0.0, 5.0], k=3, code_col="pq_code"
    ).collect()
    assert [(r.vec_id, r.d2_adc) for r in out2] == [
        (r.vec_id, r.d2_adc) for r in out
    ]
    # production index build: per-subspace k-means|| codebooks, right shape
    books2 = train_pq_codebooks(df, m_subspaces=2, k_codes=2)
    assert len(books2) == 2 and all(
        len(b) == 2 and len(b[0]) == 2 for b in books2
    )


def test_ivf_pq_exact_when_wide(spark):
    """With nprobe = all cells and shortlist = whole corpus, the IVF-PQ
    cascade's exact re-rank must reproduce brute-force dot top-k exactly —
    approximation only ever comes from pruning, never from the pipeline."""
    import random

    from pharmacodi_spark.text.similarity import ivf_pq_topk

    rng = random.Random(3)
    vecs = [(i, [float(rng.randint(-50, 50)) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    centroids = [v for _, v in vecs[:2]]
    codebooks = [
        [v[m * 4 : (m + 1) * 4] for _, v in vecs[:4]] for m in range(2)
    ]
    query = vecs[7][1]
    got = [
        (r.vec_id, r.dot)
        for r in ivf_pq_topk(
            df, centroids, codebooks, query, k=5, shortlist=40
        ).collect()
    ]
    brute = sorted(
        ((i, sum(a * b for a, b in zip(v, query))) for i, v in vecs),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert got == [(i, float(d)) for i, d in brute]


def test_scrub_shared_spans(spark):
    from pharmacodi_spark.text.cleaning import scrub_shared_spans

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"{shared} delta epsilon"),
            (3, "entirely original text with no repeats anywhere at all"),
            (4, "tiny doc"),  # shorter than span_len
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in scrub_shared_spans(docs).collect()
    }
    # the shared 5-gram is masked wherever it occurs; the rest survives in order
    assert out[1].scrubbed == "alpha beta gamma" and out[1].n_masked == 5
    assert out[2].scrubbed == "delta epsilon" and out[2].n_masked == 5
    assert out[1].n_tokens == 8 and out[2].n_tokens == 7
    # untouched docs come back verbatim, including the sub-span-length one
    assert out[3].n_masked == 0 and out[3].scrubbed.startswith("entirely")
    assert out[4].scrubbed == "tiny doc" and out[4].n_masked == 0


def test_weighted_sample(spark):
    from pyspark.sql import functions as F2

    from pharmacodi_spark.operators.sampling import weighted_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    assert weighted_sample(df, 0.0, ["k"]).count() == 0
    assert weighted_sample(df, 1.0, ["k"]).count() == 5000
    n3 = weighted_sample(df, 0.3, ["k"]).count()
    assert 0.25 * 5000 < n3 < 0.35 * 5000
    # per-row column weight: rows with w=0 never survive, w=1 always do
    wdf = df.withColumn("w", F2.when(F2.col("k") % 2 == 0, 1.0).otherwise(0.0))
    kept = {r.k for r in weighted_sample(wdf, F2.col("w"), ["k"]).collect()}
    assert kept == set(range(0, 5000, 2))
    # deterministic: same call, same rows
    again = {r.k for r in weighted_sample(wdf, F2.col("w"), ["k"]).collect()}
    assert kept == again


def test_hash_split_disjoint_exhaustive(spark):
    from pharmacodi_spark.operators.sampling import hash_sample, hash_split

    d = _docs(spark).select("doc_id")
    n = d.count()
    train, val, test = hash_split(d, "doc_id", [0.8, 0.1, 0.1])
    counts = [s.count() for s in (train, val, test)]
    assert sum(counts) == n  # exhaustive
    ids = [set(r.doc_id for r in s.collect()) for s in (train, val, test)]
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])
    assert 0.6 * n < counts[0] < 0.95 * n  # roughly proportional
    # deterministic: same call → identical membership
    again = hash_split(d, "doc_id", [0.8, 0.1, 0.1])[1]
    assert set(r.doc_id for r in again.collect()) == ids[1]
    # different salt → different draw
    s_a = set(r.doc_id for r in hash_sample(d, "doc_id", 0.5, "a").collect())
    s_b = set(r.doc_id for r in hash_sample(d, "doc_id", 0.5, "b").collect())
    assert s_a != s_b


def test_incremental_near_dup_flags(spark):
    """LSH incremental path: docs duplicated from the corpus flag as
    candidates via band-bucket hits; unrelated docs don't."""
    from pharmacodi_spark.text.incremental import (
        band_buckets,
        incremental_near_dup_flags,
    )

    d = _docs(spark)
    corpus = d.where(F.col("doc_id") < 250)
    # new batch: 10 exact copies of corpus docs (ids shifted) + 10 fresh docs
    dup = corpus.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    fresh = d.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 260)).select(
        "doc_id", "text"
    )
    new = dup.unionByName(fresh)
    idx = band_buckets(corpus)
    flags = {
        r.doc_id: r.near_dup_candidate
        for r in incremental_near_dup_flags(new, idx).collect()
    }
    assert all(flags[10_000 + i] for i in range(10))  # copies must flag
    assert len(flags) == 20


def test_multimodal_stub_plumbing(spark):
    rows = [
        (1, "image", b"\x01\x02\x03\x04", "image/png", 640, 480, None),
        (2, "video", b"\xff" * 100, "video/mp4", 1920, 1080, 3500),
        (3, "image", None, "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[1].decode_ok and len(feats[1].feat) == 8
    assert feats[1].n_bytes == 4 and feats[3].n_bytes == 0
    # deterministic fake: same payload → same features
    again = {r.media_id: r.feat for r in extract_features(media).collect()}
    assert again[2] == feats[2].feat

    frames = frame_sample_plan(media)
    assert frames.count() == 4  # video only: ts 0,1000,2000,3000
    resized = resize_plan(media).where(F.col("media_id") == 2).first()
    assert max(resized.target_w, resized.target_h) == 256


def test_hll_sketch_merge_and_accuracy(spark):
    """HLL distinct sketches: per-slice sketches merged give (a) the same
    estimate as one global sketch (merge associativity) and (b) an estimate
    within 5% of the exact distinct count."""
    from pharmacodi_spark.operators.sketches import (
        distinct_sketch,
        merge_sketches,
        sketch_estimate,
    )

    df = spark.range(0, 50_000).select(
        (F.col("id") % 7919).alias("v"), (F.col("id") % 4).alias("slice")
    )
    exact = df.select("v").distinct().count()

    per_slice = distinct_sketch(df, "v", by=["slice"])
    merged_est = merge_sketches(per_slice).select(sketch_estimate()).first()[0]
    global_est = (
        distinct_sketch(df, "v").select(sketch_estimate()).first()[0]
    )
    assert merged_est == global_est  # merge ≡ one-pass build
    assert abs(merged_est - exact) / exact < 0.05


def test_unigram_surprisal_ranks_rarity(spark):
    from pharmacodi_spark.text.corpus import unigram_surprisal

    # "common" appears 9x, "rare" once in a 12-token corpus: the rare-heavy
    # doc must score strictly more mean bits, with hand-checked values
    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common common common common rare zz"),
            (3, "common"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    assert out[1].n_words == 4 and out[3].n_words == 1
    # N=12, count(common)=10 → bits = floor(log2(12*2^20/10)) = 20
    assert out[3].sum_bits == 20 and out[3].mean_bits == 20.0
    # rare/zz: floor(log2(12*2^20/1)) = 23 → doc 2 mean > doc 1 mean
    assert out[2].mean_bits > out[1].mean_bits
    assert out[1].mean_bits == 20.0
    assert out[2].sum_bits == 5 * 20 + 2 * 23


def test_unigram_surprisal_own_lm_input_matches_default(spark):
    from pharmacodi_spark.text.corpus import unigram_lm, unigram_surprisal

    df = spark.createDataFrame(
        [
            (1, "common common  common rare"),
            (2, " common zz zz "),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    default = sorted(unigram_surprisal(df).collect())
    lm = unigram_lm(df, "text", "doc_id")
    via_lm = sorted(unigram_surprisal(df, lm=lm).collect())
    assert via_lm == default and default


def test_unigram_surprisal_frozen_lm_prices_unseen_tokens(spark):
    from pharmacodi_spark.text.corpus import unigram_lm, unigram_surprisal

    ref = spark.createDataFrame(
        [(1, "a a a b b")], "doc_id long, text string"
    )
    frozen = unigram_lm(ref, "text", "doc_id")  # {a: 3, b: 2}, n = 5
    df = spark.createDataFrame(
        [(10, "zz"), (11, "a zz")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_surprisal(df, lm=frozen).collect()}
    # a token the frozen LM lacks prices as c = 1: floor(log2(n)) + 20
    assert out[10].n_words == 1 and out[10].sum_bits == 2 + 20
    # a: floor(log2(5 div 3)) + 20 = 20
    assert out[11].n_words == 2 and out[11].sum_bits == 20 + 22


@pytest.mark.slow
def test_contamination_safe_splits(spark):
    from pharmacodi_spark.text.clusters import contamination_safe_splits

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    # clusters: {0,1,2}, {10,11}, everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    tr, va, te = contamination_safe_splits(docs, pairs, [0.8, 0.1, 0.1])
    sets = [set(r.doc_id for r in s.collect()) for s in (tr, va, te)]
    # exclusive and exhaustive
    assert sets[0] | sets[1] | sets[2] == set(range(100))
    assert not (sets[0] & sets[1] or sets[0] & sets[2] or sets[1] & sets[2])
    # no cluster straddles a split boundary
    for cluster in ({0, 1, 2}, {10, 11}):
        assert any(cluster <= s for s in sets), cluster
    # deterministic: same salt → same assignment
    tr2 = contamination_safe_splits(docs, pairs, [0.8, 0.1, 0.1])[0]
    assert {r.doc_id for r in tr2.collect()} == sets[0]


@pytest.mark.slow
def test_cell_cosine_pairs_high_dim_path_matches_flattened(spark):
    """VERDICT r4 item 6: past the flatten ceiling the dot must NOT be
    flattened (straight-line codegen degrades at 1k+ operators); it
    routes to the Arrow GEMM path. That path, with and without the
    triangle-block guard, must produce the pair set of a NumPy brute
    force — checked at dim 256."""
    import numpy as np

    from pharmacodi_spark.text.similarity import (
        cell_cosine_pairs,
        cell_cosine_pairs_arrow,
    )

    rng = np.random.default_rng(7)
    dim, n = 256, 90
    # 3 cluster prototypes + small integer jitter → integer-valued doubles
    # (exact across engines) with real near-dup structure
    protos = rng.integers(-20, 20, size=(3, dim))
    vecs = [
        (protos[i % 3] + rng.integers(-1, 2, size=dim)).tolist()
        for i in range(n)
    ]
    df = spark.createDataFrame(
        [(i, i % 2, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, cell int, embedding array<double>",
    )

    def pairs(fn=cell_cosine_pairs, **kw):
        return {
            (r.doc_a, r.doc_b)
            for r in fn(
                df, vec_col="embedding", id_col="vec_id", cell_col="cell",
                threshold=0.8, **kw,
            ).collect()
        }

    auto = pairs()  # dim 256 > 128 → Arrow GEMM path
    guarded = pairs(max_cell_size=8)  # + triangle guard
    direct = pairs(cell_cosine_pairs_arrow, max_cell_size=8)
    # NumPy oracle
    a = np.array(vecs, dtype=np.float64)
    norm = np.sqrt((a * a).sum(axis=1))
    cos = (a @ a.T) / np.outer(norm, norm)
    want = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if i % 2 == j % 2 and cos[i, j] >= 0.8
    }
    assert want and auto == want
    assert guarded == want
    assert direct == want


def test_repetition_metrics_hand_fixture(spark):
    from pharmacodi_spark.text.analysis import repetition_metrics

    docs = spark.createDataFrame(
        [
            # "a b" appears 3x of 5 2-grams (top2_frac = 2*3/6 = 1.0)
            (1, "a b a b a b"),
            # all 3-grams distinct, all 2-grams distinct
            (2, "w x y z q"),
            # one duplicated 3-gram: "p q r" twice of 4 3-grams
            (3, "p q r p q r"),
            (4, ""),  # empty doc
            (5, "solo"),  # too short for any gram
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert out[1].n_tokens == 6 and out[1].top_cnt == 3
    assert abs(out[1].top_frac - 1.0) < 1e-12 and not out[1].keep
    # doc 2: all grams distinct, but top_frac = 2*1/5 = 0.4 > 0.2 → not keep
    assert out[2].top_cnt == 1 and out[2].dup_occ == 0 and not out[2].keep
    # doc 3: 4 3-grams, "p q r" twice → dup_occ=2, dup_frac=0.5 > 0.3
    assert out[3].dup_occ == 2 and out[3].n_grams == 4 and not out[3].keep
    assert out[4].n_tokens == 0 and out[4].keep
    assert out[5].n_tokens == 1 and out[5].top_cnt == 0 and out[5].keep


def test_pack_sequences_matches_naive_and_straddles(spark):
    from pyspark.sql import Window

    from pharmacodi_spark.text.packing import pack_sequences

    import random

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r.doc_id: r for r in pack_sequences(df, seq_len=64).collect()
    }
    # naive single-window oracle
    start = 0
    for i, cnt in rows:
        r = got[i]
        assert r.token_start == start, (i, r.token_start, start)
        assert r.first_example == start // 64
        assert r.last_example == (start + max(cnt, 1) - 1) // 64
        assert r.n_examples == r.last_example - r.first_example + 1
        start += cnt
    # at least one doc must straddle an example boundary
    assert any(r.n_examples > 1 for r in got.values())


def test_decontaminate_against_hand_fixture(spark):
    from pharmacodi_spark.text.cleaning import decontaminate_against

    seq = " ".join(f"t{i}" for i in range(20))  # t0..t19
    other = " ".join(f"u{i}" for i in range(20))
    train = spark.createDataFrame(
        [
            (1, seq),  # shares 13-grams with eval doc
            (2, other),  # disjoint vocabulary
            (3, "short doc"),  # too short for any 13-gram
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, seq)], "doc_id long, text string")
    out = {r.doc_id: r for r in decontaminate_against(train, ev, n=13).collect()}
    assert len(out) == 3
    # doc 1 has 8 distinct 13-grams, all present in eval
    assert out[1].contaminated and out[1].n_collisions == 8
    assert not out[2].contaminated and out[2].n_collisions == 0
    assert not out[3].contaminated


def test_temperature_mixture_sample_flattens_sources(spark):
    import math

    from pharmacodi_spark.operators.sampling import temperature_mixture_sample

    # head source holds 90% of rows, two tail sources 5% each
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1800, F.lit("head"))
        .when(F.col("id") < 1900, F.lit("mid"))
        .otherwise(F.lit("tail"))
        .alias("source"),
    )
    out = temperature_mixture_sample(
        df, "source", key_cols=["doc_id"], salt="t"
    )
    rates = {r.source: r.rate for r in out.select("source", "rate").distinct().collect()}
    # rate formula: min(1, 0.5 * sqrt(N/n_s))
    for src, n in (("head", 1800), ("mid", 100), ("tail", 100)):
        want = min(1.0, 0.5 * math.sqrt(2000 / n))
        assert abs(rates[src] - want) < 1e-12, (src, rates[src], want)
    # tail sources are kept at a 1.0 rate (0.5*sqrt(20) > 1), head ~0.53
    kept = {r.source: r.cnt for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert kept["mid"] == 100 and kept["tail"] == 100
    assert 0.4 * 1800 < kept["head"] < 0.65 * 1800
    # deterministic: second run identical
    again = temperature_mixture_sample(
        df, "source", key_cols=["doc_id"], salt="t"
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_estimate_jaccard_unbiased_on_identical_and_disjoint(spark):
    """Estimator sanity: identical docs estimate 1.0, shingle-disjoint docs
    sharing an LSH bucket would estimate < 1; values replay in Python."""
    from pyspark.sql import functions as F

    from pharmacodi_spark.text.dedup import estimate_jaccard, minhash_signatures

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "alpha beta gamma delta epsilon zeta eta OTHER"),
        (4, "totally unrelated words with nothing shared here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 8
    sig = minhash_signatures(df, num_hashes=k)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    est = {
        (r.doc_a, r.doc_b): (r.n_equal, r.est_ppm)
        for r in estimate_jaccard(sig, pairs, num_hashes=k).collect()
    }
    assert est[(1, 2)] == (k, 1_000_000)           # identical: all match
    assert est[(1, 4)] == (0, 0)                    # disjoint shingles
    # doc 3 shares 3 of its 4 shingles with doc 1 (J = 3/5); with the
    # fixed hash family the estimate is deterministic: 5/8
    assert est[(1, 3)] == (5, 625_000)
    for (a, b), (n, ppm) in est.items():
        assert ppm == n * 1_000_000 // k
