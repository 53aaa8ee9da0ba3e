"""Targeted data selection (text/selection.py): DSIR importance weights
against a pure-Python replay, ranking semantics, the zero-join scoring
plan, and the exact percentile gate."""

from __future__ import annotations

import pytest

import hashlib
import os

from pyspark.sql import functions as F


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_dsir(docs, targets, dim, salt, frac_bits=10):
    """Independent replay: bucket counts, add-one smoothed fixed-point
    log-ratio, per-doc sum."""
    from pharmacodi_spark.text.selection import ilog2_fp_int

    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for i, text in docs:
        for t in text.split():
            if not t:
                continue
            b = _md5int(salt + t) % dim
            cr[b] = cr.get(b, 0) + 1
            if i in targets:
                ct[b] = ct.get(b, 0) + 1
    tr = sum(cr.values()) + dim
    tt = sum(ct.values()) + dim
    il = lambda x: ilog2_fp_int(x, frac_bits)
    lam = {
        b: il(ct.get(b, 0) + 1) - il(tt) - il(cr[b] + 1) + il(tr) for b in cr
    }
    return {
        i: sum(lam[_md5int(salt + t) % dim] for t in text.split() if t)
        for i, text in docs
    }


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "der schnelle braune fuchs springt"),
    (3, "the dog sleeps while the fox runs"),
    (4, "le renard brun rapide saute"),
    (5, "quick quick fox fox the the"),
    (6, ""),
]
TARGETS = {1, 3, 5}  # the "english-like" seed


def test_dsir_matches_python_replay(spark):
    from pharmacodi_spark.text.selection import dsir_score, dsir_train_weights

    dim, salt = 128, "t"
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    lam = dsir_train_weights(df, F.col("doc_id").isin(*TARGETS), dim=dim, salt=salt)
    got = {
        r.doc_id: r.dsir_fp
        for r in dsir_score(df, lam, dim=dim, salt=salt).collect()
    }
    want = _py_dsir(DOCS, TARGETS, dim, salt)
    assert got == want, (got, want)


def test_dsir_ranks_target_like_docs_first(spark):
    """Every target-seed doc shares vocabulary with doc 5's token multiset;
    the French/German docs share none — DSIR must rank the in-domain docs
    strictly above the out-of-domain ones."""
    from pharmacodi_spark.text.selection import dsir_topk

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    ranked = [
        r.doc_id
        for r in dsir_topk(
            df, F.col("doc_id").isin(*TARGETS), k=6, dim=128, salt="t"
        ).collect()
    ]
    top3 = set(ranked[:3])
    assert top3 == TARGETS, ranked
    assert ranked.index(6) > 2  # empty doc scores 0, never first


def test_dsir_scoring_plan_is_zero_join(spark):
    """The λ vector rides as an array literal — scoring must compile with
    no Join operator and no Exchange (the corpus never leaves its scan)."""
    from pharmacodi_spark.text.selection import dsir_score

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = dsir_score(df, [0] * 64, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_percentile_gate_exact_with_ties(spark):
    from pharmacodi_spark.text.selection import percentile_gate

    rows = [(i, s) for i, s in enumerate([10, 20, 20, 30, 40, 40, 40, 50, 60, 70])]
    df = spark.createDataFrame(rows, "doc_id long, score long")
    # top 30% of 10 rows → quota 3 → threshold = 3rd-highest score = 50
    kept = sorted(r.score for r in percentile_gate(df, "score", 30).collect())
    assert kept == [50, 60, 70]
    # quota lands inside the 40-tie block → all ties kept
    kept = sorted(r.score for r in percentile_gate(df, "score", 50).collect())
    assert kept == [40, 40, 40, 50, 60, 70]
    # floor semantics: p small enough that quota = 0 keeps nothing
    assert percentile_gate(df, "score", 5).count() == 0
    # p = 100 keeps everything
    assert percentile_gate(df, "score", 100).count() == len(rows)


def test_tokenizer_fertility_counts(spark):
    from pharmacodi_spark.text.analysis import tokenizer_fertility

    df = spark.createDataFrame(
        [
            (1, "hello world", "a"),      # 2 words, 2 tokens, 11 chars
            (2, "can't stop", "a"),       # 2 words, 4 tokens (can ' t stop)
            (3, "", "b"),                 # empty
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in tokenizer_fertility(df).collect()}
    a = out["a"]
    assert (a.n_docs, a.n_words, a.n_tokens) == (2, 4, 6)
    assert a.tokens_per_100_words == 150  # 6*100 // 4
    b = out["b"]
    assert (b.n_words, b.n_tokens, b.n_chars) == (0, 0, 0)
    assert b.tokens_per_100_words == 0  # greatest(n,1) guard, no div-by-zero


def test_length_buckets_pow2_and_waste(spark):
    from pharmacodi_spark.text.packing import length_buckets

    texts = {1: "a", 2: "a b", 3: "a b c d", 4: "a b c d e", 5: ""}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = {r.bucket_len: r for r in length_buckets(df).collect()}
    # n=1 and n=0 → bucket 1; n=2 → 2; n=4 → 4; n=5 → 8
    assert out[1].n_docs == 2 and out[1].pad_tokens == 1
    assert out[2].n_docs == 1 and out[2].pad_tokens == 0
    assert out[4].efficiency_pct == 100
    assert out[8].n_tokens == 5 and out[8].pad_tokens == 3
    assert out[8].efficiency_pct == 62  # floor(500/8)
    # max_len clamps before binning
    capped = {r.bucket_len: r for r in length_buckets(df, max_len=2).collect()}
    assert set(capped) == {1, 2} and capped[2].n_docs == 3


def test_dedup_attribution_blames_the_dropping_source(spark):
    from pharmacodi_spark.text.dedup import dedup_attribution

    df = spark.createDataFrame(
        [
            (1, "same text", "orig"),
            (2, "same text", "mirror"),   # duplicate, higher id → dropped
            (3, "same text", "mirror"),
            (4, "unique here", "mirror"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in dedup_attribution(df).collect()}
    assert out["orig"].rows_kept == 1 and out["orig"].dup_ppm == 0
    assert out["mirror"].rows_in == 3 and out["mirror"].rows_kept == 1
    assert out["mirror"].dup_ppm == 666_666  # floor(2e6/3)


def test_prototypicality_python_replay_and_plan(spark):
    from pharmacodi_spark.text.selection import prototypicality

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.1, 0.1], 0),
        (3, [5.0, 5.0], 0),   # far from group-0 centroid → outlier
        (4, [0.0, 2.0], 1),
        (5, [0.0, 2.2], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = prototypicality(df, id_col="vec_id")
    got = {r.vec_id: r.dist2_scaled for r in out.collect()}

    import collections
    q = {i: [int((x * 10_000 + 0.5) // 1) for x in v] for i, v, _ in rows}
    groups = collections.defaultdict(list)
    for i, _, g in rows:
        groups[g].append(i)
    for g, ids in groups.items():
        n = len(ids)
        s = [sum(q[i][p] for i in ids) for p in range(2)]
        for i in ids:
            want = sum((n * q[i][p] - s[p]) ** 2 for p in range(2))
            assert got[i] == want, (i, got[i], want)
    # the planted outlier dominates its group
    g0 = sorted(groups[0], key=lambda i: -got[i])
    assert g0[0] == 3
    # scoring plan: map-literal fold — no join, no exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_source_signature_terms_semantics(spark):
    from pharmacodi_spark.text.corpus import source_signature_terms

    df = spark.createDataFrame(
        [
            (1, "common casino jackpot", "gamble"),
            (2, "common casino slots", "gamble"),
            (3, "common election senate", "news"),
            (4, "common election court", "news"),
        ],
        "doc_id long, text string, source string",
    )
    out = source_signature_terms(df, k=2).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # 'common' appears in both sources → ctfidf exactly 0, never ranked
    assert all(r.term != "common" for r in out)
    assert by_src["gamble"][0].term == "casino"  # tf 2, distinctive
    assert by_src["news"][0].term == "election"
    assert all(r.ctfidf_fp > 0 for r in out)


def test_source_overlap_minhash_detects_mirrors(spark):
    from pharmacodi_spark.text.dedup import source_overlap_minhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(10):
        body = f"{base} tail{i} filler{i} pad{i} end{i}"
        rows.append((i, body, "orig"))
        rows.append((100 + i, body, "mirror"))          # exact re-host
        rows.append((200 + i, f"uno dos tres cuatro cinco seis w{i} x{i} y{i} z{i}", "other"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        tuple(sorted((r.src_a, r.src_b))): r.est_jaccard_ppm
        for r in source_overlap_minhash(df, num_hashes=32).collect()
    }
    # identical shingle sets → every seed matches
    assert out[("mirror", "orig")] == 1_000_000
    assert out[("mirror", "other")] < 200_000
    assert out[("orig", "other")] < 200_000


@pytest.mark.slow
def test_selection_pipeline_durable_barrier_equivalence(spark, durable_barriers):
    from pyspark.sql import functions as SF

    from pharmacodi_spark.text.selection import selection_pipeline

    rows = [
        (i,
         ("the quick brown fox " * 3 if i % 2 else "der schnelle fuchs lauf ") + f"tail{i}",
         "en" if i % 2 else "de",
         40 + (i % 7) * 10)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
    kw = dict(target=SF.col("lang") == "en", keep_pct=50, k=10, dim=128, salt="s")
    local = selection_pipeline(df, **kw).collect()
    with durable_barriers() as root:
        durable = selection_pipeline(df, **kw).collect()
    assert local == durable
    assert any(f.startswith("selection-gate-") for f in os.listdir(root))
    # gate-then-train is visible: every selected doc survived the gate
    from pharmacodi_spark.text.selection import percentile_gate

    surv = {r.doc_id for r in percentile_gate(
        df.select("doc_id", "n_chars"), "n_chars", 50).collect()}
    assert {r.doc_id for r in local} <= surv
    # target-language docs dominate the selection
    langs = {i: l for i, _, l, _ in rows}
    assert sum(langs[r.doc_id] == "en" for r in local) >= 8


def test_token_budget_report_invariants(spark):
    import math

    from pharmacodi_spark.text.selection import token_budget_report

    rows = []
    for i in range(40):          # big source with duplicates
        rows.append((i, "alpha beta gamma" if i % 4 == 0 else f"text body {i}", "big"))
    for i in range(100, 105):    # small source, unique docs
        rows.append((i, f"tiny unique {i}", "small"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in token_budget_report(df).collect()}
    big, small = out["big"], out["small"]
    # dedup: 10 copies of the same 3-token doc keep one
    assert big.raw_docs == 40 and big.kept_tokens == big.raw_tokens - 9 * 3
    assert small.dup_ppm == 0
    # temperature flattening: the small source samples at a HIGHER rate
    assert small.rate > big.rate
    assert small.rate <= 1.0 and big.rate <= 1.0
    # expected tokens: exact IEEE replay
    t = big.kept_tokens + small.kept_tokens
    for r in (big, small):
        want_rate = min(1.0, 0.5 * math.sqrt(t) / math.sqrt(r.kept_tokens))
        assert r.rate == want_rate
        assert r.expected_tokens == math.floor(want_rate * r.kept_tokens)


def test_lang_confusion_diagonal_and_unknown(spark):
    from pharmacodi_spark.text.analysis import lang_confusion

    rows = [
        (1, "the cat is on the mat with a dog", "en"),
        (2, "el perro y la casa de los gatos", "es"),
        (3, "der hund und die katze ist mit", "de"),
        (4, "le chien et les chats du parc", "fr"),
        (5, "mislabeled the dog and the cat", "de"),   # claimed de, english text
        (6, "zzz qqq xxx", "zh"),                      # no detector coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.lang, r.pred_lang): r for r in lang_confusion(df).collect()}
    for l in ("en", "es", "fr"):
        assert out[(l, l)].share_ppm == 1_000_000
    assert out[("de", "de")].n_docs == 1 and out[("de", "en")].n_docs == 1
    assert out[("de", "de")].share_ppm == 500_000
    assert out[("zh", "unknown")].share_ppm == 1_000_000


def test_dup_cluster_histogram_partitions_corpus(spark):
    from pharmacodi_spark.text.clusters import dup_cluster_histogram

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r.cluster_size: r for r in dup_cluster_histogram(ids, pairs).collect()}
    assert out[3].n_clusters == 1 and out[3].n_docs == 3   # chain 1-2-3
    assert out[2].n_clusters == 1 and out[2].n_docs == 2   # pair 5-6
    assert out[1].n_clusters == 2 and out[1].n_docs == 2   # singletons 4, 7
    assert sum(r.n_docs for r in out.values()) == 7        # partitions corpus


def test_corpus_diff_statuses(spark):
    from pharmacodi_spark.text.incremental import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


@pytest.mark.slow
def test_gumbel_resample_proportional_and_deterministic(spark):
    """The base-2 Gumbel race: same salt → identical draw; across salts the
    heavy doc (2^10 fp ≈ 2x weight per 1024 units) wins k=1 far more often;
    draws are without replacement."""
    from pharmacodi_spark.text.selection import gumbel_topk_resample

    # log2-weights in fp units: doc 1 carries 4096 (16x weight), docs 2-9: 0
    rows = [(1, 4096)] + [(i, 0) for i in range(2, 10)]
    df = spark.createDataFrame(rows, "doc_id long, dsir_fp long")
    wins = 0
    for s in range(30):
        pick = gumbel_topk_resample(df, k=1, salt=f"s{s}").collect()[0].doc_id
        if pick == 1:
            wins += 1
    # true proportional odds: 16/24 = 2/3; allow wide slack for quantization
    assert wins >= 12, wins
    # determinism + without-replacement
    a = [r.doc_id for r in gumbel_topk_resample(df, k=5, salt="x").collect()]
    b = [r.doc_id for r in gumbel_topk_resample(df, k=5, salt="x").collect()]
    assert a == b and len(set(a)) == 5


def test_unimax_allocation_waterfill_invariants(spark):
    from pharmacodi_spark.text.selection import unimax_allocation

    rows = []
    sizes = {"tiny": 5, "small": 20, "big": 200}
    for src, n in sizes.items():
        rows.append((src, " ".join(["w"] * n)))
    df = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(r for r in rows)],
        "doc_id long, text string, source string",
    )
    # budget 100, cap = 2 epochs: tiny caps at 10, small caps at 40,
    # big gets the waterline (100-50) div 1 = 50
    out = {r.source: r for r in unimax_allocation(df, 100, max_epochs=2).collect()}
    assert out["tiny"].alloc == 10 and out["tiny"].epochs_ppm == 2_000_000
    assert out["small"].alloc == 40
    assert out["big"].alloc == 50 and out["big"].cap == 400
    assert sum(r.alloc for r in out.values()) <= 100
    # budget >= sum(caps): everyone allocates the cap
    full = {r.source: r for r in unimax_allocation(df, 10_000, max_epochs=2).collect()}
    assert all(full[s].alloc == full[s].cap for s in sizes)


def test_cm_sketch_bounds_and_merge(spark):
    """CM guarantees: est >= exact for every item; merged per-slice
    sketches answer the union exactly as one big sketch would."""
    from pharmacodi_spark.operators.sketches import cm_estimate, cm_merge, cm_sketch

    a = spark.createDataFrame(
        [("x",)] * 50 + [("y",)] * 5 + [("z",)] * 1, "v string"
    )
    b = spark.createDataFrame([("x",)] * 25 + [("w",)] * 10, "v string")
    kw = dict(depth=4, width=64)
    items = spark.createDataFrame([("x",), ("y",), ("z",), ("w",)], "v string")
    merged = cm_merge(cm_sketch(a, "v", **kw), cm_sketch(b, "v", **kw))
    one = cm_sketch(a.unionByName(b), "v", **kw)
    est_m = {r.v: r.cm_est for r in cm_estimate(merged, items, "v", **kw).collect()}
    est_o = {r.v: r.cm_est for r in cm_estimate(one, items, "v", **kw).collect()}
    assert est_m == est_o
    exact = {"x": 75, "y": 5, "z": 1, "w": 10}
    for v, n in exact.items():
        assert est_m[v] >= n  # one-sided error, always
    # with 91 items in width-64 rows, the heavy hitter stays near-exact
    assert est_m["x"] - exact["x"] <= 16

    # NULL values mint no counter cells (the r11 sketch-hygiene rule:
    # md5(NULL) would land depth rows on a NULL bucket and inflate the
    # sketch's mass) — a sketch over data-with-NULLs is IDENTICAL to one
    # over the clean data
    with_nulls = a.unionByName(
        spark.createDataFrame([(None,)] * 20, "v string")
    )
    sk_clean = {tuple(r) for r in cm_sketch(a, "v", **kw).collect()}
    sk_nulls = {tuple(r) for r in cm_sketch(with_nulls, "v", **kw).collect()}
    assert sk_clean == sk_nulls


@pytest.mark.slow
def test_streaming_cm_sketch_equals_batch_and_survives_replay(spark, tmp_path):
    import json as _json
    import os as _os
    import time as _time

    from pharmacodi_spark.operators.sketches import (
        cm_estimate, cm_sketch, read_cm_sketch, streaming_cm_sketch,
    )

    rows = [{"v": "x"}] * 30 + [{"v": "y"}] * 7 + [{"v": "z"}] * 2
    src = str(tmp_path / "incoming")
    _os.makedirs(src)
    for i in range(3):
        path = _os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in rows[i * 13 : (i + 1) * 13]:
                f.write(_json.dumps(r) + "\n")
        _os.utime(path, (_time.time() + i * 10, _time.time() + i * 10))

    base = str(tmp_path / "state")
    kw = dict(col="v", depth=4, width=32)
    for ckpt in ("c1", "c2"):  # second pass = full replay, must not double
        stream = (
            spark.readStream.schema("v string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = streaming_cm_sketch(stream, base, str(tmp_path / ckpt), **kw)
        q.awaitTermination()

    folded = read_cm_sketch(spark, base)
    batch = cm_sketch(spark.createDataFrame([(r["v"],) for r in rows], "v string"),
                      "v", 4, 32)
    items = spark.createDataFrame([("x",), ("y",), ("z",)], "v string")
    est_s = {r.v: r.cm_est for r in cm_estimate(folded, items, "v", 4, 32).collect()}
    est_b = {r.v: r.cm_est for r in cm_estimate(batch, items, "v", 4, 32).collect()}
    assert est_s == est_b
    assert est_s["x"] >= 30 and est_s["z"] >= 2


def test_apply_phrases_greedy_fold_matches_python(spark):
    from pharmacodi_spark.text.corpus import apply_phrases

    phrases = [("new", "york"), ("york", "city"), ("machine", "learning")]

    def py_apply(text):
        toks = [t for t in text.split() if t]
        out, pend = [], ""
        for t in toks:
            if pend and (pend, t) in phrases:
                out.append(pend + "_" + t)
                pend = ""
            elif not pend:
                pend = t
            else:
                out.append(pend)
                pend = t
        if pend:
            out.append(pend)
        return " ".join(out)

    texts = [
        "new york city hall",            # greedy: new_york city hall
        "i love machine learning a lot",
        "york city new york",
        "new new york",
        "",
        "machine",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.phrased_text for r in apply_phrases(df, phrases).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_apply(t), (t, got[i], py_apply(t))
    assert got[0] == "new_york city hall"
    # apply is a zero-shuffle fold
    plan = apply_phrases(df, phrases)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_detect_phrases_flags_true_collocations(spark):
    from pharmacodi_spark.text.corpus import detect_phrases

    rows = [(i, "new york is big and " + ("x y " if i % 2 else "p q ") * 1)
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.a, r.b): r for r in detect_phrases(df, min_count=2).collect()}
    # "new york" always adjacent, each word only in that context → phrase
    assert out[("new", "york")].is_phrase
    # "is big" also always adjacent — same stats here; but "and x"/"and p"
    # split the contexts, so ("big","and") stays but ("and","x") has
    # c_ab=5 < c_a=10 context → weaker score than ("new","york")
    assert out[("new", "york")].score_fp >= out[("and", "x")].score_fp


def test_strip_source_boilerplate_semantics(spark):
    from pharmacodi_spark.text.cleaning import strip_source_boilerplate

    header = "SITE NAV menu login"
    rows = (
        [(i, f"{header} article body {i}", "templated") for i in range(8)]
        + [(100, "organic text here", "templated")]           # 8/9 share
        + [(200 + i, f"opening {i} varies fully", "clean") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: (r.stripped_text, r.boilerplate_stripped)
        for r in strip_source_boilerplate(
            df, prefix_tokens=4, min_share_ppm=500_000
        ).collect()
    }
    for i in range(8):
        assert out[i] == (f"article body {i}", True)
    assert out[100] == ("organic text here", False)     # non-matching row kept
    for i in range(5):                                  # no dominant prefix
        assert out[200 + i][1] is False


def test_window_mix_entropy_orders_windows_correctly(spark):
    """Uniform mix maximizes the integer entropy; a single-type window
    scores exactly 0 (c·(il(N)−il(N)))."""
    from pyspark.sql import functions as F

    from pharmacodi_spark.plans.series_q import window_mix_entropy

    # build two windows directly on a temp events-shaped frame
    rows = []
    for i in range(8):                     # window 0: uniform over 4 types
        rows.append((i * 1_000_000_000, f"t{i % 4}", 1.0))
    for i in range(8):                     # window 1: all one type
        rows.append((600_000_000_000 + i * 1_000_000_000, "t0", 1.0))
    df = spark.createDataFrame(rows, "ts long, event_type string, value double")
    c = (
        df.withColumn("bucket_start", (F.expr("ts div 600000000000") * 600).cast("long"))
        .groupBy("bucket_start", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    from pharmacodi_spark.text.retrieval import ilog2_fp

    n = c.groupBy("bucket_start").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
    )
    j = c.join(n, "bucket_start")
    term = F.col("c") * (ilog2_fp(F.col("n_events")) - ilog2_fp(F.col("c")))
    out = {
        r.bucket_start: r.entropy_fp
        for r in j.groupBy("bucket_start", "n_events", "n_types")
        .agg(F.sum(term).cast("long").alias("entropy_fp"))
        .collect()
    }
    assert out[600] == 0                       # degenerate mix
    # uniform 4-way over 8 events: H = 8 * (il(8) - il(2)) = 8 * 2 bits fp
    assert out[0] == 8 * ((3 << 10) - (1 << 10))


def test_vocab_coverage_exact_curve(spark):
    """Known counts → exact histogram cumulative rows, ending at 10⁶ ppm."""
    from pharmacodi_spark.text.corpus import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    rows = {
        r.freq: (r.n_terms, r.cum_terms, r.coverage_ppm)
        for r in vocab_coverage(df).collect()
    }
    assert rows == {
        3: (1, 1, 500000),    # 'a' alone: 3 of 6 tokens
        2: (1, 2, 833333),    # + 'b': 5 of 6
        1: (1, 3, 1000000),   # full vocab covers everything
    }


def test_ngram_diversity_bounds_and_values(spark):
    """Template-stamped source scores low; all-unique source scores 10⁶."""
    from pharmacodi_spark.text.corpus import ngram_diversity

    df = spark.createDataFrame(
        [
            (1, "x y x y", "tmpl"),       # grams: xy, yx, xy → 2/3
            (2, "x y x y", "tmpl"),       # same again → 4 distinct? no: 2/6
            (3, "p q r s", "fresh"),      # all unique → 3/3
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        r.source: (r.distinct_ngrams, r.total_ngrams, r.diversity_ppm)
        for r in ngram_diversity(df).collect()
    }
    assert rows["tmpl"] == (2, 6, 333333)
    assert rows["fresh"] == (3, 3, 1000000)


def test_decontam_attribution_consistent_with_per_doc(spark):
    """Per-source rollup sums match the per-doc decontam on the fixture."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    per_doc = e.queries()["benchmark_decontam"](spark, sf).collect()
    per_src = e.queries()["decontam_attribution"](spark, sf).collect()
    assert sum(r.docs_in for r in per_src) == len(per_doc)
    assert sum(r.docs_flagged for r in per_src) == sum(
        1 for r in per_doc if r.contaminated
    )
    assert sum(r.n_collisions for r in per_src) == sum(
        r.n_collisions for r in per_doc
    )
    for r in per_src:
        assert 0 <= r.flagged_ppm <= 1000000
