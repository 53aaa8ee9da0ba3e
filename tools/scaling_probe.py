#!/usr/bin/env python
"""Scale-behavior probe: regenerate SCALING.md.

The driver's fixtures top out at sf0.1, so "would this survive 100 TB" is
otherwise argued from plans alone (PLANS.md). This probe adds measured
evidence: it materializes 1x and 10x copies of the documents / lineitem
tables (10x via unioned id-shifted copies, written as multi-partition
parquet so scans parallelize the way real corpus files do) and times the
operators whose scaling behavior matters — the dedup family, the pair
generators, connected components, fact surrogate ids, and a shuffle join.

Reading the result: wall-time ratio ≈ data ratio (10x) means linear
scaling (shuffle- and bucket-bound ops); ratios well above the data ratio
expose super-linear terms (e.g. quadratic bucket blowup). Absolute times
are local[32] single-node and only the RATIOS are meaningful.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pharmacodi_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = "/tmp/spark_graft_scaling"


def materialize(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_docs = docs.count()
    n_li = li.count()
    for mult in (1, 10):
        dpath = f"{BASE}/documents_{mult}x"
        lpath = f"{BASE}/lineitem_{mult}x"
        if not os.path.exists(dpath):
            parts = [
                docs.select(
                    (F.col("doc_id") + k * n_docs).alias("doc_id"), "text"
                )
                for k in range(mult)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.repartition(32).write.mode("overwrite").parquet(dpath)
        if not os.path.exists(lpath):
            parts = [
                li.select(
                    (F.col("l_orderkey") + k * 10_000_000).alias("l_orderkey"),
                    "l_linenumber",
                    "l_quantity",
                    "l_suppkey",
                )
                for k in range(mult)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.repartition(32).write.mode("overwrite").parquet(lpath)
    return n_docs, n_li


def timed(build) -> float:
    """Times CONSTRUCTION + execution: ops with eager materialization inside
    (localCheckpoint in dense surrogate ids / connected components) do real
    work before the final action, which a run-the-DataFrame timer misses."""
    t0 = time.perf_counter()
    df = build() if callable(build) else build
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def ops(spark, mult: int) -> dict[str, float]:
    from pharmacodi_spark.operators.keys import surrogate_key
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.dedup import (
        exact_dedup,
        minhash_near_dup_pairs,
        simhash,
        simhash_near_pairs,
    )

    docs = spark.read.parquet(f"{BASE}/documents_{mult}x")
    li = spark.read.parquet(f"{BASE}/lineitem_{mult}x")
    out: dict[str, float] = {}
    out["exact_dedup"] = timed(lambda: exact_dedup(docs))
    pairs = minhash_near_dup_pairs(docs, num_hashes=16)
    out["minhash_lsh_pairs"] = timed(pairs)
    out["simhash64_near_pairs"] = timed(
        lambda: simhash_near_pairs(
            simhash(docs, bits=64), max_hamming=3, prefix_bits=16
        )
    )
    out["cc_droplist"] = timed(
        lambda: near_dup_droplist(docs.select("doc_id"), pairs)
    )
    out["surrogate_key_fact"] = timed(
        lambda: surrogate_key(
            li, order_by=["l_orderkey", "l_linenumber"], dense_global=True
        )
    )
    out["shuffle_join_agg"] = timed(
        li.hint("shuffle_hash")
        .join(li.groupBy("l_suppkey").agg(F.count("*").alias("n")), "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.sum("n").alias("s"))
    )

    # iterative graph ops (VERDICT r3 item 8): node count scales WITH the
    # data (2000·mult) so both the edge list and the rank/label state grow
    # 10x together — the honest scaling question for Pregel-shape loops
    from pharmacodi_spark.operators.graph import label_propagation, pagerank_int

    n_nodes = 2000 * mult
    edges = li.select(
        (F.col("l_orderkey") % n_nodes).alias("src"),
        ((F.col("l_suppkey") * 7 + F.col("l_orderkey")) % n_nodes).alias("dst"),
    ).distinct()
    out["pagerank_4iter"] = timed(
        lambda: pagerank_int(edges, iterations=4, checkpoint_every=2)
    )
    out["label_prop_3iter"] = timed(
        lambda: label_propagation(edges, iterations=3, checkpoint_every=2)
    )

    from pharmacodi_spark.text.cleaning import scrub_shared_spans

    out["span_scrub"] = timed(lambda: scrub_shared_spans(docs))

    from pharmacodi_spark.operators.profile import profile_table

    out["profile_approx"] = timed(lambda: profile_table(li, approx=True))

    # round-5 LLM-pipeline family (ann_int8 is deliberately absent: its
    # plan is zero-Exchange scan→TakeOrdered — PLANS.md proves linearity)
    from pharmacodi_spark.operators.sampling import temperature_mixture_sample
    from pharmacodi_spark.text.analysis import repetition_metrics
    from pharmacodi_spark.text.cleaning import decontaminate_against
    from pharmacodi_spark.text.dedup import passage_dedup_stats
    from pharmacodi_spark.text.packing import pack_sequences, shuffle_shards
    from pharmacodi_spark.text.retrieval import bm25_scores

    out["gopher_repetition"] = timed(lambda: repetition_metrics(docs))
    counted = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    out["sequence_packing"] = timed(lambda: pack_sequences(counted, seq_len=128))
    sized = docs.select("doc_id", F.length("text").alias("n_chars"))
    out["shuffle_shards"] = timed(lambda: shuffle_shards(sized, 1 << 20))
    out["passage_dedup"] = timed(lambda: passage_dedup_stats(docs, window=16))
    out["bm25_topk"] = timed(
        lambda: bm25_scores(docs, ["table", "scan", "window", "merge"], k=20)
    )
    out["benchmark_decontam"] = timed(
        lambda: decontaminate_against(
            docs.where(F.col("doc_id") % 97 != 0),
            docs.where(F.col("doc_id") % 97 == 0),
            n=13,
        )
    )
    srcd = docs.select(
        "doc_id", (F.col("doc_id") % 8).cast("string").alias("source")
    )
    out["mixture_sample"] = timed(
        lambda: temperature_mixture_sample(
            srcd, "source", key_cols=["doc_id"], salt="mix",
        )
    )

    # curation E2E (stage-barrier composition): gates → decontam →
    # passage dedup → exact dedup → mixture, with survivor-id stage
    # barriers between stages (the shape that prevents the combinatorial
    # lazy-composition blowup — see
    # pipelines/curation_stream.py::curation_cascade)
    from pharmacodi_spark.text.corpus import unigram_surprisal

    def curation():
        d = docs.withColumn(
            "source", (F.col("doc_id") % 8).cast("string")
        )
        gop = repetition_metrics(d).where("keep").select("doc_id")
        sur = (
            unigram_surprisal(d)
            .where(100 * F.col("sum_bits") <= 2405 * F.col("n_words"))
            .select("doc_id")
        )
        s1 = (
            gop.join(sur, "doc_id")
            .where(F.col("doc_id") % 97 != 0)
            .localCheckpoint()
        )
        q1 = d.join(s1, "doc_id")
        ev = d.where(F.col("doc_id") % 97 == 0)
        s2 = (
            decontaminate_against(q1, ev, n=13)
            .where(~F.col("contaminated"))
            .select("doc_id")
            .localCheckpoint()
        )
        q2 = d.join(s2, "doc_id")
        s3 = (
            passage_dedup_stats(q2, window=16)
            .where("keep")
            .select("doc_id")
            .localCheckpoint()
        )
        q3 = d.join(s3, "doc_id")
        from pharmacodi_spark.text.dedup import exact_dedup

        ex = exact_dedup(q3)
        return temperature_mixture_sample(
            ex.select("doc_id", "source"), "source",
            key_cols=["doc_id"], salt="cur",
        )

    out["curation_pipeline"] = timed(curation)

    # round-6 family: ExactSubstr spans (dup-dense 10x is its WORST case —
    # every window is duplicated, so the per-doc interval merge sees every
    # token), detect+trim, shuffle-free chunking, per-group reservoir,
    # origin-level rollup
    from pharmacodi_spark.operators.sampling import sample_per_group
    from pharmacodi_spark.text.analysis import source_quality_rollup
    from pharmacodi_spark.text.corpus import chunk_documents
    from pharmacodi_spark.text.dedup import repeated_spans, trim_repeated_spans

    out["substring_spans"] = timed(lambda: repeated_spans(docs, min_len=8))
    out["substring_trim"] = timed(
        lambda: trim_repeated_spans(docs, repeated_spans(docs, min_len=8))
    )
    out["document_chunks"] = timed(
        lambda: chunk_documents(docs, chunk_tokens=128, overlap=32)
    )
    out["group_reservoir"] = timed(
        lambda: sample_per_group(
            srcd, "source", 100, key_cols=["doc_id"], salt="rs"
        )
    )
    out["source_rollup"] = timed(
        lambda: source_quality_rollup(
            docs.withColumn("source", (F.col("doc_id") % 8).cast("string"))
        )
    )

    # round-6 selection batch: DSIR (≤dim-row training shuffle + zero-shuffle
    # λ-literal scoring), the exact histogram percentile gate, and the three
    # observability rollups — all expected ~linear (per-row native exprs +
    # domain-cardinality aggregates)
    from pharmacodi_spark.text.analysis import tokenizer_fertility
    from pharmacodi_spark.text.dedup import dedup_attribution, source_overlap_minhash
    from pharmacodi_spark.text.packing import length_buckets
    from pharmacodi_spark.text.selection import (
        dsir_topk,
        percentile_gate,
        selection_pipeline,
    )

    out["dsir_select"] = timed(
        lambda: dsir_topk(docs, F.col("doc_id") % 5 == 0, k=50, dim=1024)
    )
    out["percentile_gate"] = timed(
        lambda: percentile_gate(
            docs.select("doc_id", F.length("text").alias("nc")), "nc", 30
        )
    )
    srctext = docs.withColumn("source", (F.col("doc_id") % 8).cast("string"))
    out["tokenizer_fertility"] = timed(lambda: tokenizer_fertility(srctext))
    out["length_buckets"] = timed(lambda: length_buckets(docs))
    out["dedup_attribution"] = timed(lambda: dedup_attribution(srctext))
    out["source_overlap_minhash"] = timed(
        lambda: source_overlap_minhash(srctext, num_hashes=32)
    )
    langd = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("xx")
    ).withColumn("n_chars", F.length("text"))
    out["selection_pipeline"] = timed(
        lambda: selection_pipeline(
            langd, F.col("lang") == "en", keep_pct=70, k=200, dim=1024
        )
    )
    from pharmacodi_spark.text.selection import token_budget_report

    out["token_budget_report"] = timed(
        lambda: token_budget_report(srctext)
    )

    # round-6 final: Gumbel resampling (zero-shuffle race), UniMax
    # water-filling, and dominant-source controls for the per-origin
    # rollups (one source holds 90% of docs — the map-side k-min/keeper
    # collapse must absorb the skew)
    from pharmacodi_spark.text.dedup import (
        dedup_attribution as _da,
        source_overlap_minhash as _som,
    )
    from pharmacodi_spark.text.selection import (
        dsir_score,
        dsir_train_weights,
        gumbel_topk_resample,
        unimax_allocation,
    )

    lam = dsir_train_weights(docs, F.col("doc_id") % 5 == 0, dim=1024)
    out["dsir_resample"] = timed(
        lambda: gumbel_topk_resample(dsir_score(docs, lam, dim=1024), k=100)
    )
    out["unimax_allocation"] = timed(
        lambda: unimax_allocation(srctext, budget_tokens=200_000, max_epochs=2)
    )
    skewsrc = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 10 != 0, "dominant")
        .otherwise((F.col("doc_id") % 7).cast("string")),
    )
    out["dedup_attribution_skew90"] = timed(lambda: _da(skewsrc))
    out["source_overlap_skew90"] = timed(lambda: _som(skewsrc, num_hashes=32))

    # JL projection over synthetic 64-dim vectors derived from doc ids
    # (embeddings_{mult}x isn't materialized; the fold cost is what scales)
    from pharmacodi_spark.text.similarity import jl_project, jl_sign_matrix

    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.col("doc_id") * 31 + i) % 1000).cast("double") / 500.0,
        ).alias("embedding"),
    )
    signs = jl_sign_matrix(64, 8)
    out["jl_projection"] = timed(lambda: jl_project(vecs, signs))

    from pharmacodi_spark.text.corpus import corpus_report, detect_phrases

    langd2 = srctext.withColumn(
        "lang", (F.col("doc_id") % 5).cast("string")
    )
    out["corpus_report"] = timed(lambda: corpus_report(langd2))
    out["phrase_detection"] = timed(
        lambda: detect_phrases(docs, min_count=5)
    )

    # round-6 late family: winnowing fingerprints + overlap pairs (the
    # positional near-dup path), the entropy and backoff-LM gates, the
    # PSI drift monitor, and the per-source exact quantiles
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.operators.profile import (
        distribution_psi,
        group_quantiles,
    )
    from pharmacodi_spark.text.analysis import token_entropy
    from pharmacodi_spark.text.corpus import stupid_backoff_scores
    from pharmacodi_spark.text.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    out["winnow_fingerprints"] = timed(
        lambda: winnow_fingerprints(docs, k=5, w=4)
    )
    fp = stage_barrier(winnow_fingerprints(docs, k=5, w=4), name="sc_wfp")
    out["winnow_overlap_pairs"] = timed(
        lambda: winnow_overlap_pairs(fp, max_cell_size=256)
    )
    out["token_entropy"] = timed(lambda: token_entropy(docs))
    out["stupid_backoff"] = timed(
        lambda: stupid_backoff_scores(
            docs.where(F.col("doc_id") % 7 != 0),
            docs.where(F.col("doc_id") % 7 == 0),
        )
    )
    # the materialized 10x table carries (doc_id, text) only
    sized = docs.select("doc_id", F.length("text").alias("n_chars"))
    bucketed = sized.select(
        "doc_id",
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("string").alias("bucket"),
    )
    out["distribution_psi"] = timed(
        lambda: distribution_psi(
            bucketed.where(F.col("doc_id") % 2 == 0),
            bucketed.where(F.col("doc_id") % 2 == 1),
            "bucket",
        )
    )
    out["group_quantiles"] = timed(
        lambda: group_quantiles(
            srctext.withColumn("n_chars", F.length("text")),
            "n_chars",
            "source",
        )
    )

    # round-7 family: Kneser–Ney LM gate (one continuation rollup per
    # order on top of the stupid-backoff topology), the Aho–Corasick
    # large-blocklist gate (1000-phrase automaton, one mapInPandas pass),
    # the PSI drift series fold, and URL canonicalization + domain gate
    from pharmacodi_spark.operators.profile import psi_series_from_snapshots
    from pharmacodi_spark.text.cleaning import phrase_blocklist_hits_ac
    from pharmacodi_spark.text.corpus import kneser_ney_scores
    from pharmacodi_spark.text.urls import domain_gate, parse_urls

    out["kneser_ney"] = timed(
        lambda: kneser_ney_scores(
            docs.where(F.col("doc_id") % 7 != 0),
            docs.where(F.col("doc_id") % 7 == 0),
        )
    )
    ac_phrases = [f"tok{i:05d} tok{i + 1:05d}" for i in range(1000)] + [
        "table part", "fast merge",
    ]
    out["phrase_blocklist_ac_1k"] = timed(
        lambda: phrase_blocklist_hits_ac(docs, ac_phrases)
    )
    snaps = (
        bucketed.select("bucket", (F.col("doc_id") % 5).alias("batch_id"))
        .groupBy("bucket", "batch_id")
        .agg(F.count("*").cast("long").alias("c_cur"))
    )
    out["psi_drift_series"] = timed(
        lambda: psi_series_from_snapshots(
            snaps, bucketed.where(F.col("doc_id") % 2 == 0), "bucket"
        )
    )
    with_url = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.s"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".Example.COM:443/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&b=1&a=2"),
        ).alias("url"),
    )
    out["url_canonicalize"] = timed(lambda: parse_urls(with_url))
    blocked = spark.createDataFrame(
        [(f"s{i}.example.com",) for i in range(0, 50, 3)], ["domain"]
    )
    out["url_domain_gate"] = timed(
        lambda: domain_gate(with_url, blocked)
    )

    # round-8 family: HTML main-content extraction (per-row projection —
    # must scale with bytes, never worse), link extraction, the trigram
    # KN gate (one continuation topology up), and the hashed lang head
    from pharmacodi_spark.text.analysis import hashed_lang_id
    from pharmacodi_spark.text.corpus import kneser_ney3_scores
    from pharmacodi_spark.text.html import extract_links, html_to_text

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script>var x = 1 < 2;</script></head>'
                  '<body><div class="nav"><a href="/">Home</a> '
                  '<a href="/a">About</a></div><p>'),
            F.col("text"),
            F.lit('</p><p>See <a href="http://s'),
            (F.col("doc_id") % 50).cast("string"),
            F.lit('.example.com/x">a link</a> too.</p></body></html>'),
        ).alias("html"),
    )
    out["html_extract"] = timed(lambda: html_to_text(pages))
    out["extract_links"] = timed(lambda: extract_links(pages))
    out["kneser_ney3"] = timed(
        lambda: kneser_ney3_scores(
            docs.where(F.col("doc_id") % 7 != 0),
            docs.where(F.col("doc_id") % 7 == 0),
        )
    )
    out["hashed_lang_id"] = timed(
        lambda: hashed_lang_id(docs, langs=["de", "en", "es", "fr", "zh"])
    )

    # round-10 family: Lloyd's k-means over a synthesized integer vector
    # column (md5-derived from doc_id — transform-identical across scales).
    # Expected shape: linear — iterations are corpus scans + (cid,dim)
    # metadata aggregates; vectors never pair. The quantized frame is
    # pinned exactly like the kmeans_topics query (each iteration re-reads
    # the pin, not the parquet+synthesis subplan).
    from pharmacodi_spark.text.similarity import kmeans_lloyd_int

    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("doc_id").cast("string"),
                                    F.lit(f"_d{i}"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2001
                    - 1000
                )
                for i in range(16)
            ]
        ).alias("qe"),
    ).localCheckpoint()
    out["kmeans_2iter"] = timed(
        lambda: kmeans_lloyd_int(vecs, k=8, iterations=2)[0]
    )
    return out


def skew(spark, mult: int) -> dict[str, float]:
    """Hot-cell skew fixture (VERDICT r4 item 1): one LSH bucket holds 10%
    of ALL ids (a boilerplate cluster), the rest spread uniformly. Times the
    pair expansion uncapped (one collect_list array → one quadratic task)
    vs capped via triangle-block re-split (text/dedup.py::triangle_blocks,
    max_cell_size=256 → the hot bucket's C(m,2) pairs spread over
    s*(s+1)/2 bounded tasks). Both produce the IDENTICAL pair set — the
    ratio isolates straggler relief, not work reduction."""
    from pharmacodi_spark.text.dedup import pairs_from_cells

    docs = spark.read.parquet(f"{BASE}/documents_{mult}x")
    n = docs.count()
    hot = int(n * 0.10)
    cells = docs.select(
        F.col("doc_id"),
        F.lit(0).alias("band"),
        F.when(F.col("doc_id") % n < hot, F.lit(999))
        .otherwise(F.col("doc_id") % 37)
        .alias("bucket"),
    ).localCheckpoint()
    return {
        "skew_pairs_uncapped": timed(lambda: pairs_from_cells(cells)),
        "skew_pairs_capped256": timed(
            lambda: pairs_from_cells(cells, max_cell_size=256)
        ),
    }


def nodup_control(spark, n_docs: int) -> dict[str, float]:
    """Duplicate-mass-controlled scaling (VERDICT r4 item 5, widened per
    VERDICT r8 item 6): the main 10x corpus is 10 IDENTICAL copies of
    every doc — worst case for pair counts, so the pair generators'
    main-table ratios confound engine scaling with true-duplicate
    growth. Here every copy k suffixes ``_k`` onto EVERY token, making
    shingle sets disjoint across copies: per-copy duplicate structure is
    unchanged, data is 10x, so a linear engine shows ratio ≈ 10 on ~10x
    the pairs of 1x (not ~100x). The 1x leg applies the SAME transform
    (k=0 suffix) so both legs are transform-identical, and the control
    now covers every family VERDICT r8 flagged as fixture-dup-confounded:
    minhash LSH pairs, winnow overlap pairs, the three-detector
    agreement referee, and the Gopher repetition gate."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.plans import QUERIES
    from pharmacodi_spark.text.analysis import repetition_metrics
    from pharmacodi_spark.text.dedup import minhash_near_dup_pairs
    from pharmacodi_spark.text.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    for m in (1, 10):
        path = f"{BASE}/ctrl_{m}x/documents.parquet"
        if not os.path.exists(path):
            docs = spark.read.parquet(f"{BASE}/documents_1x")
            parts = [
                docs.select(
                    (F.col("doc_id") + k * n_docs).alias("doc_id"),
                    F.regexp_replace("text", r"(\S+)", f"$1_{k}").alias(
                        "text"
                    ),
                )
                for k in range(m)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.repartition(32).write.mode("overwrite").parquet(path)

    det = QUERIES["detector_agreement"][0]
    out: dict[str, float] = {}
    for m in (1, 10):
        docs = spark.read.parquet(f"{BASE}/ctrl_{m}x/documents.parquet")
        sfx = f"_ctrl_{m}x"
        out["minhash_pairs" + sfx] = timed(
            lambda: minhash_near_dup_pairs(docs, num_hashes=16)
        )
        fp = stage_barrier(
            winnow_fingerprints(docs, k=5, w=4), name=f"ctrl_wfp_{m}x"
        )
        out["winnow_pairs" + sfx] = timed(
            lambda: winnow_overlap_pairs(fp, max_cell_size=256)
        )
        out["gopher_repetition" + sfx] = timed(
            lambda: repetition_metrics(docs)
        )
        out["detector_agreement" + sfx] = timed(
            lambda: det(spark, f"{BASE}/ctrl_{m}x")
        )
    return out


def pruning(spark, mult: int) -> dict[str, float]:
    """Canonical-layout pruning (VERDICT r3 item 9): write an experiment-
    shaped table through io.py::save_canonical (dataset partitions + cell
    buckets + in-bucket sort) and a Z-ordered copy (clustering.py), then
    time selective scans against full scans on the SAME files. The numbers
    that matter: pruned/full per scale (how much the layout saves) and
    pruned 1x→10x (a pruned scan should grow with the SELECTED slice, not
    the table)."""
    from pharmacodi_spark.io import save_canonical
    from pharmacodi_spark.operators.clustering import zorder_repartition

    li = spark.read.parquet(f"{BASE}/lineitem_{mult}x")
    exp = li.select(
        (F.col("l_orderkey") % 20).alias("dataset_id"),
        F.col("l_suppkey").alias("cell_id"),
        (F.col("l_orderkey") * 4 + F.col("l_linenumber")).alias("compound_id"),
        F.col("l_quantity").alias("value"),
    )
    canon_base = f"{BASE}/canon_{mult}x"
    handle = save_canonical(exp, "experiment", canon_base)  # bucketed → ident
    zpath = f"{BASE}/zorder_{mult}x"
    ppath = f"{BASE}/plain_{mult}x"
    zorder_repartition(exp, ["cell_id", "compound_id"], 32).write.mode(
        "overwrite"
    ).parquet(zpath)
    exp.repartition(32).write.mode("overwrite").parquet(ppath)

    canon = spark.table(handle)
    agg = lambda df: df.groupBy().agg(F.sum("value").alias("s"))  # noqa: E731
    sel = (F.col("cell_id").between(10, 40)) & (
        F.col("compound_id").between(1000, 50000)
    )
    z, p = spark.read.parquet(zpath), spark.read.parquet(ppath)
    out = {
        "canon_full_scan": timed(agg(canon)),
        "canon_partition_pruned": timed(
            agg(canon.where(F.col("dataset_id") == 3))
        ),
        "zorder_selective": timed(agg(z.where(sel))),
        "plain_selective": timed(agg(p.where(sel))),
    }
    return out


def ivf_tiers(spark) -> tuple[dict[str, float], dict[str, float]]:
    """Measure the two IVF-assignment tiers at production k (VERDICT
    r11 item 2): the r11 flagship claimed "constant plan at any k"
    (broadcast-centroid-table) and "GEMM wins past k≈1e4" from plan
    shape alone — this times them. Two sweeps:

    - k-sweep at fixed n: table (ivf_assign) and Arrow-GEMM at
      k = 128 / 1e3 / 1e4 (+ arrow at 1e5). Per-row table cost is k·dim
      interpreted higher-order-function multiplies, so its wall should
      grow ~linearly in k while arrow pays one BLAS matmul per batch +
      a fixed Arrow-transfer toll — the measured crossover is the
      number the ivf_assign/ivf_assign_arrow docstrings assert.
      table@1e5 is omitted DELIBERATELY: its projected wall (linear
      extrapolation from 1e3/1e4) is the blocker the GEMM tier exists
      for — recorded as a note, not silently skipped.
    - n-growth under the k = n div 256 blocking rule: total assignment
      FLOPs are n·k·dim = n²·dim/256 — intrinsically superlinear for
      ANY exact nearest-centroid method (the standard IVF build cost),
      so the honest scale statement is which TIER holds the best
      constant, not a linear ratio. Measured on the arrow tier (the
      production path at that k) with the table tier at the small leg
      for the constant comparison.

    Vectors are integer-valued (xxhash64 % 2001), so every distance /
    GEMM partial sum is an exact float64 integer — the cross-tier
    equivalence contract (pytest-proven) holds for the probe data too."""
    from pharmacodi_spark.text.similarity import ivf_assign, ivf_assign_arrow

    dim = 32

    def synth(n: int, tag: str):
        path = f"{BASE}/ivf_vecs_{tag}"
        if not os.path.exists(path):
            df = spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(dim)),
                    lambda j: (
                        F.xxhash64(F.col("id") * dim + j) % 2001
                    ).cast("double"),
                ).alias("qe"),
            )
            df.repartition(32).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def cdf_of(src, k: int):
        return src.where(F.col("vec_id") < k).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("qe").alias("cvec"),
        )

    def rollup(assigned):
        return assigned.groupBy("cid").count()

    n_fixed = 20_000
    corpus = synth(n_fixed, f"{n_fixed}")
    cent_src = synth(100_000, "100000")  # centroid pool for every k

    sweep: dict[str, float] = {}
    # warm codegen/JIT on a throwaway table run
    timed(
        lambda: rollup(
            ivf_assign(
                corpus, cdf_of(cent_src, 128), vec_col="qe", out_col="cid"
            )
        )
    )
    for k in (128, 1_000, 10_000):
        sweep[f"table_k{k}"] = timed(
            lambda: rollup(
                ivf_assign(
                    corpus, cdf_of(cent_src, k), vec_col="qe", out_col="cid"
                )
            )
        )
    for k in (128, 1_000, 10_000, 100_000):
        cents = [
            list(r["cvec"])
            for r in sorted(
                cdf_of(cent_src, k).collect(), key=lambda r: r["cid"]
            )
        ]
        sweep[f"arrow_k{k}"] = timed(
            lambda: rollup(
                ivf_assign_arrow(corpus, cents, vec_col="qe", out_col="cid")
            )
        )

    growth: dict[str, float] = {}
    for n, k in ((128_000, 500), (1_280_000, 5_000)):
        c = synth(n, f"{n}")
        cents = [
            list(r["cvec"])
            for r in sorted(
                cdf_of(cent_src, k).collect(), key=lambda r: r["cid"]
            )
        ]
        growth[f"arrow_n{n}_k{k}"] = timed(
            lambda: rollup(
                ivf_assign_arrow(c, cents, vec_col="qe", out_col="cid")
            )
        )
    small = synth(128_000, "128000")
    growth["table_n128000_k500"] = timed(
        lambda: rollup(
            ivf_assign(
                small, cdf_of(cent_src, 500), vec_col="qe", out_col="cid"
            )
        )
    )
    return sweep, growth


def cell_pair_tiers(spark) -> dict[str, float]:
    """Measure the cell_cosine_pairs scoring paths (r12): the flattened
    whole-stage-codegen join (``flat``, dim <= CELL_PAIRS_FLATTEN_MAX_DIM)
    vs the Arrow GEMM path (``arrow``, cell_cosine_pairs_arrow) at the
    widths around the flatten ceiling. Per-pair cost is where the
    semantic-dedup floor lives (ROADMAP r11: 12 s for 6.4M candidate
    dots at sf1, dim 64).

    10k integer-valued vectors in 64 cells (~156 rows/cell → ~780k
    candidate pair dots), triangle guard armed at 256 on every leg
    (the production shape); threshold 0.8 keeps output tiny so the
    wall is pure scoring. Integer vectors ⇒ the paths are
    bit-equivalent (the pytest contract) on the probe data too."""
    from pharmacodi_spark.text.similarity import (
        CELL_PAIRS_FLATTEN_MAX_DIM,
        cell_cosine_pairs,
        cell_cosine_pairs_arrow,
    )

    n = 10_000
    out: dict[str, float] = {}
    for dim in (64, 128, 256, 512):
        path = f"{BASE}/cellpair_vecs_{dim}"
        if not os.path.exists(path):
            df = spark.range(n).select(
                F.col("id").alias("vec_id"),
                (F.col("id") % 64).cast("int").alias("cell"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(dim)),
                    lambda j: (
                        F.xxhash64(F.col("id") * dim + j) % 2001
                    ).cast("double"),
                ).alias("qe"),
            )
            df.repartition(32).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        legs = {"arrow": cell_cosine_pairs_arrow}
        if dim <= CELL_PAIRS_FLATTEN_MAX_DIM:
            legs = {"flat": cell_cosine_pairs, **legs}
        for tier, fn in legs.items():
            # warm then measure (JIT / Python worker pool both amortize
            # in steady state)
            for leg in ("warm", f"{tier}_d{dim}"):
                sec = timed(
                    lambda fn=fn: fn(
                        src,
                        vec_col="qe",
                        id_col="vec_id",
                        cell_col="cell",
                        threshold=0.8,
                        max_cell_size=256,
                    )
                )
                if leg != "warm":
                    out[leg] = sec
    return out


def main() -> None:
    spark = get_spark(app_name="scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    n_docs, n_li = materialize(spark)
    ops(spark, 1)  # warm: codegen + JIT
    t1 = ops(spark, 1)
    t10 = ops(spark, 10)
    lines = [
        "# SCALING — measured 1x → 10x behavior (generated by tools/scaling_probe.py)",
        "",
        f"Base: `{SF_DIR}` (documents {n_docs:,} rows, lineitem {n_li:,} rows);",
        "10x = id-shifted copies written as 32-partition parquet (multi-split",
        "scans, unlike the single-row-group fixtures). local[32]; ratios are",
        "the signal, absolute seconds are not. Ratio ≈ 10 ⇒ linear scaling;",
        "clearly above ⇒ super-linear term to fix. Near-dup pair counts grow",
        "with duplicate structure (10 identical copies of every doc), so the",
        "pair generators carry 10x the TRUE duplicates too — their ratios",
        "bound worst-case dup-heavy corpora, not typical ones.",
        "",
        "| op | 1x sec | 10x sec | ratio |",
        "|---|---|---|---|",
    ]
    for name in t1:
        r = t10[name] / t1[name] if t1[name] > 0 else float("nan")
        lines.append(
            f"| {name} | {t1[name]:.2f} | {t10[name]:.2f} | {r:.1f}x |"
        )
    lines += [
        "",
        "Note on `hashed_lang_id` (the table's highest sub-linear ratio,",
        "VERDICT r9 item 6): reproduced under a controlled r10 re-measure",
        "(min-of-3 after warm: 0.30s → 1.33s, 4.5x). It is fixed-overhead",
        "amortization, not a super-linear term: the op is a shuffle-free",
        "per-row projection (5-language n-gram hash fold + native argmax),",
        "so its marginal cost is linear in rows — but the 1x leg (5k docs",
        "across 32 threads) is ~0.2s job-overhead-dominated, and as that",
        "amortizes the ratio converges toward 10x (linear), exactly the",
        "direction a CPU-dense healthy op should move. Nothing to pin.",
        "",
        "Note on `kmeans_2iter` (ratio ≤ 1 is expected noise, not a",
        "super-power): Lloyd's here is SIX bounded Spark jobs (the pin,",
        "3 assignment scans, 2 k·dim metadata collects), and at both",
        "probe scales the per-job scheduling overhead dwarfs the linear",
        "per-row compute (50k 16-dim vectors is still trivial work for",
        "32 threads), so the measured ratio is pure job-overhead",
        "variance. The scale story is structural, not measured here:",
        "centroids are driver metadata, each step is one scan + a",
        "(cid,dim) map-side-combining aggregate, vectors never pair",
        "(PLANS.md pins zero parquet re-scans and no joins).",
    ]

    s1 = skew(spark, 1)
    s10 = skew(spark, 10)
    nd = nodup_control(spark, n_docs)
    lines += [
        "",
        "## Duplicate-structure control (pair generators)",
        "",
        "The main 10x corpus is 10 IDENTICAL copies of every doc (pair",
        "counts grow ~100x: worst case). The control suffixes every token",
        "per copy — shingle sets disjoint across copies, per-copy dup",
        "structure unchanged, so true pairs grow ~10x, and BOTH legs get",
        "the same transform (k=0 suffix at 1x) so the ratio is pure engine",
        "scaling. The dup-dense ratios in the main table bound dup-heavy",
        "corpora; these controlled ratios are the honest 10x-data answer",
        "for every pair family VERDICT r8 flagged (winnow, detector",
        "referee, gopher) — sub-10x = sub-linear.",
        "",
        "| op (dup-controlled corpus) | 1x sec | 10x sec | ratio |",
        "|---|---|---|---|",
    ]
    for op in (
        "minhash_pairs",
        "winnow_pairs",
        "gopher_repetition",
        "detector_agreement",
    ):
        a, b = nd[f"{op}_ctrl_1x"], nd[f"{op}_ctrl_10x"]
        lines.append(f"| {op} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")
    lines += [
        "",
        "## Hot-cell skew guard (triangle-block re-split)",
        "",
        "One bucket holds 10% of all ids; uncapped = one collect_list array",
        "+ one quadratic expansion task; capped (max_cell_size=256) =",
        "triangle-block re-split, same EXACT pair set over s*(s+1)/2",
        "bounded tasks (text/dedup.py::triangle_blocks). On local[32] the",
        "guard's win is straggler relief + bounded arrays; on a cluster it",
        "is the difference between one executor OOM/stalling and s^2",
        "parallel tasks.",
        "",
        "| fixture | uncapped sec | capped sec |",
        "|---|---|---|",
        f"| skewed pairs 1x (hot bucket 500 ids) | {s1['skew_pairs_uncapped']:.2f} | {s1['skew_pairs_capped256']:.2f} |",
        f"| skewed pairs 10x (hot bucket 5,000 ids → 12.5M pairs) | {s10['skew_pairs_uncapped']:.2f} | {s10['skew_pairs_capped256']:.2f} |",
    ]

    p1 = pruning(spark, 1)
    p10 = pruning(spark, 10)
    lines += [
        "",
        "## Canonical-layout pruning (save_canonical + Z-order)",
        "",
        "Experiment-shaped table (20 dataset partitions, 16 cell buckets,",
        "in-bucket sort) via `io.py::save_canonical`; Z-ordered vs plain",
        "32-file copies via `operators/clustering.py::zorder_repartition`.",
        "`pruned/full` is the layout's payoff on the SAME files; a pruned",
        "scan growing far slower than 10x means the scan tracks the",
        "selected slice, not the table.",
        "",
        "| scan | 1x sec | 10x sec | 10x/1x |",
        "|---|---|---|---|",
    ]
    for name in p1:
        r = p10[name] / p1[name] if p1[name] > 0 else float("nan")
        lines.append(
            f"| {name} | {p1[name]:.2f} | {p10[name]:.2f} | {r:.1f}x |"
        )
    for label, (num, den) in {
        "canon partition pruned/full": ("canon_partition_pruned", "canon_full_scan"),
        "zorder selective / plain selective": ("zorder_selective", "plain_selective"),
    }.items():
        lines.append(
            f"| {label} (at 10x) | — | — | "
            f"{p10[num] / p10[den]:.2f} of baseline |"
        )
    sweep, growth = ivf_tiers(spark)
    lines += [
        "",
        "## IVF assignment tiers at production k (r12)",
        "",
        "20,000 × 32-dim integer-valued vectors (xxhash64-synthesized, so",
        "every distance/GEMM partial sum is an exact float64 integer and",
        "the two tiers are bit-equivalent — the pytest contract holds on",
        "the probe data). table = ivf_assign, the broadcast centroid",
        "table (constant PLAN, per-row cost k·dim interpreted HOF",
        "multiplies); arrow = ivf_assign_arrow, one",
        "float64 GEMM per Arrow batch. `table_k100000` is omitted",
        "deliberately: linear extrapolation from the measured 1e3/1e4 legs",
        "puts it 10× the k=1e4 wall — that projected cost IS the reason",
        "the GEMM tier exists, not a gap in coverage.",
        "",
        "| tier @ k (n=20k, dim=32) | sec |",
        "|---|---|",
    ]
    for name, sec in sweep.items():
        lines.append(f"| {name} | {sec:.2f} |")
    kx = sweep["table_k10000"] / sweep["table_k1000"]
    ax = sweep["arrow_k10000"] / sweep["arrow_k1000"]
    lines += [
        "",
        f"table k-scaling 1e3→1e4: {kx:.1f}× (per-row k·dim term);",
        f"arrow k-scaling 1e3→1e4: {ax:.1f}× (BLAS amortizes the same",
        "FLOPs). Crossover: compare table_k vs arrow_k rows above — the",
        "arrow fixed toll (Arrow transfer + Python workers) buys in when",
        "the k·dim-per-row interpreted cost exceeds it.",
        "",
        "### n-growth under the blocking rule k = n div 256",
        "",
        "Assignment FLOPs are n·k·dim = n²·dim/256 — intrinsically",
        "superlinear for ANY exact nearest-centroid pass (the standard",
        "IVF build cost; this is why coarse quantizers are trained on",
        "samples and assignments are incremental in production). The",
        "scale statement is which tier holds the best constant:",
        "",
        "| leg | sec |",
        "|---|---|",
    ]
    for name, sec in growth.items():
        lines.append(f"| {name} | {sec:.2f} |")
    gx = growth["arrow_n1280000_k5000"] / growth["arrow_n128000_k500"]
    lines += [
        "",
        f"arrow 10× n (⇒ 100× FLOPs under the rule): {gx:.1f}× wall —",
        "the GEMM tier's BLAS constant absorbs part of the quadratic",
        "term; the table tier at the SAME small leg",
        f"({growth['table_n128000_k500']:.2f}s vs",
        f"{growth['arrow_n128000_k500']:.2f}s) shows the interpreted-HOF",
        "constant the arrow tier replaces.",
    ]

    cp = cell_pair_tiers(spark)
    lines += [
        "",
        "## cell_cosine_pairs scoring paths by vector width (r12)",
        "",
        "10k integer-valued vectors, 64 cells (~780k candidate pair",
        "dots), triangle guard at 256 on every leg, warm min-of-2nd-run.",
        "flat = the JVM join path with the vector flattened to scalar",
        "columns (dim ≤ CELL_PAIRS_FLATTEN_MAX_DIM = 128); arrow = one",
        "numpy GEMM per triangle block (cell_cosine_pairs_arrow), the",
        "path cell_cosine_pairs picks for wider vectors.",
        "",
        "| path @ dim (n=10k, 64 cells) | sec |",
        "|---|---|",
    ]
    for name, sec in cp.items():
        lines.append(f"| {name} | {sec:.2f} |")

    lines += [
        "",
        "## Stage barriers: local vs durable",
        "",
        "Every multi-stage cascade (curation_pipeline, token_offsets /",
        "surrogate_key range-partition pinning, connected-components and",
        "PageRank loops, the ingest gauntlet, merge_upsert, the streaming",
        "twins) pins stage boundaries via",
        "`pharmacodi_spark.barrier.stage_barrier(df, name)`. Where every pin",
        "lives is one deployment setting, the `spark.pharmacodi.barrierDir`",
        "conf:",
        "",
        "- unset (default): `localCheckpoint()` — truncates lineage,",
        "  executor-local unreplicated blocks. Correct and fastest on a single",
        "  JVM / stable cluster, but a preempted executor loses its blocks",
        "  with NO recompute path (lineage truncated).",
        "- set: every pin is written as parquet under that root and read",
        "  back. Same plan containment (fresh scan ⇒ lineage truncated), but",
        "  blocks live in the job's scratch filesystem (HDFS/S3) — executor",
        "  loss recovers by re-reading. Most pinned frames are metadata-scale",
        "  (survivor-id sets, #partitions-row offset tables), so the write is",
        "  noise at 100 TB relative to the stages it protects; `merge_upsert`",
        "  pins the merged rows it is about to write, so there durable mode",
        "  writes them twice. Barrier files are TTL'd job scratch.",
        "",
        "`tests/test_durable_barrier.py` asserts row-identical results with",
        "and without the conf for curation_pipeline, surrogate_key (fact",
        "path), connected_components, pagerank_int, merge_upsert, two",
        "ingest_batch batches and a curation_stream replay, that the named",
        "pins land under the root, and that a pin with the conf unset writes",
        "nothing.",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    for ln in lines[12:]:
        print(ln)


if __name__ == "__main__":
    main()
