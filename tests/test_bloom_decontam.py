"""bloom_decontaminate_against (text/cleaning.py): the Bloom prefilter
must change the PLAN, never the rows — equivalence with the exact path
under planted contamination, under a deliberately-tiny bitmap that
floods the candidate set with false positives (the referee's job), and
through the CJK tokens_col seam."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pharmacodi_spark.text.cleaning import (
    bloom_decontaminate_against,
    decontaminate_against,
)


def _corpus(spark, seed=67):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    mk = lambda k: " ".join(rng.choice(vocab) for _ in range(k))  # noqa: E731
    eval_rows = [(1000 + i, mk(30)) for i in range(4)]
    train_rows = [(i, mk(rng.randint(5, 60))) for i in range(120)]
    # plant contamination: 6 train docs lift a 13-gram window verbatim
    for j in range(6):
        src = eval_rows[j % len(eval_rows)][1].split(" ")
        start = rng.randint(0, len(src) - 13)
        lifted = " ".join(src[start : start + 13])
        did, text = train_rows[j * 17]
        train_rows[j * 17] = (did, text + " " + lifted)
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    return train, ev


def _rowmap(df):
    return {
        r["doc_id"]: (r["n_collisions"], r["contaminated"])
        for r in df.collect()
    }


def test_bloom_equals_exact_with_planted_contamination(spark):
    train, ev = _corpus(spark)
    exact = _rowmap(decontaminate_against(train, ev, n=13))
    bloom = _rowmap(bloom_decontaminate_against(train, ev))
    assert bloom == exact
    assert sum(1 for _, (_, c) in exact.items() if c) >= 6


def test_bloom_exact_under_fp_flood(spark):
    # 64-bit bitmap for hundreds of eval grams: nearly every bit is set,
    # the prefilter passes almost everything — the broadcast semi-join
    # referee must still reduce the answer to the exact one
    train, ev = _corpus(spark, seed=71)
    exact = _rowmap(decontaminate_against(train, ev, n=13))
    flooded = _rowmap(
        bloom_decontaminate_against(train, ev, n_bits=64, n_hashes=2)
    )
    assert flooded == exact


def test_bloom_tokens_col_seam(spark):
    # unspaced CJK-style text: the default space split forms no 13-gram;
    # a pre-tokenized column must flag the planted lift on BOTH paths
    chars = [chr(0x4E00 + i) for i in range(30)]
    line = "".join(chars)
    train = spark.createDataFrame(
        [(0, line), (1, "".join(reversed(chars)))],
        "doc_id long, text string",
    ).withColumn("toks", F.split(F.col("text"), ""))
    ev = spark.createDataFrame(
        [(100, line[:20])], "doc_id long, text string"
    ).withColumn("toks", F.split(F.col("text"), ""))
    exact = _rowmap(decontaminate_against(train, ev, n=13, tokens_col="toks"))
    bloom = _rowmap(
        bloom_decontaminate_against(train, ev, tokens_col="toks")
    )
    assert bloom == exact
    assert exact[0][1] is True and exact[1][1] is False


def test_bloom_persisted_sidecar_roundtrip(spark, tmp_path):
    # the production loop: build the bitmap once when the benchmark
    # changes, persist it, and screen later corpus refreshes from the
    # LOADED sidecar — identical rows to the rebuild-every-time path
    from pharmacodi_spark.operators.bloom import (
        build_bloom_bitmap,
        load_bloom_bitmap,
        save_bloom_bitmap,
    )
    from pharmacodi_spark.text.cleaning import ngram_hash_rows

    train, ev = _corpus(spark, seed=79)
    eval_grams = (
        ngram_hash_rows(ev, "text", "doc_id", 13, None)
        .select("gh")
        .distinct()
    )
    words = build_bloom_bitmap(eval_grams, "gh", 1 << 16, 3)
    path = str(tmp_path / "decontam_bloom")
    save_bloom_bitmap(spark, words, 3, path)
    loaded = load_bloom_bitmap(spark, path)
    fresh = _rowmap(bloom_decontaminate_against(train, ev))
    reused = _rowmap(
        bloom_decontaminate_against(train, ev, bitmap=loaded)
    )
    assert reused == fresh == _rowmap(decontaminate_against(train, ev, n=13))
