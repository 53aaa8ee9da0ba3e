"""Round-11 tokens_col seam sweep (VERDICT r10 item 4): the 12 ops that
still hard-split on " " get the pre-tokenized-array seam. Each test shows
the whitespace default DEGENERATE on unspaced CJK (the r8
silent-degradation class) and the same op non-degenerate through
``tokens_col=unicode_tokens``; fixture-oracle behavior (tokens_col=None)
is unchanged by construction."""

from __future__ import annotations

from pyspark.sql import functions as F


def _cjk_df(spark, rows):
    from pharmacodi_spark.text.analysis import unicode_tokens

    return spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "toks", unicode_tokens("text")
    )


def test_decontam_catches_cjk_contamination(spark):
    # the highest-stakes op: a benchmark answer embedded verbatim in a
    # training doc, both unspaced CJK. Whitespace view: each line is ONE
    # token, no 13-gram ever forms, contamination passes SILENTLY.
    from pharmacodi_spark.text.cleaning import decontaminate_against

    bench = "深度学习模型的训练数据质量决定最终性能表现"  # 20 chars ≥ 13
    train = _cjk_df(
        spark,
        [
            (0, "前言说明" + bench + "后记内容补充"),  # contaminated
            (1, "完全不同的训练文本没有任何基准内容在里面啊"),  # clean
        ],
    )
    ev = _cjk_df(spark, [(100, bench)])

    ws = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_against(train, ev, n=13).collect()
    }
    assert ws == {0: False, 1: False}  # the silent pass

    uni = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_against(
            train, ev, n=13, tokens_col="toks"
        ).collect()
    }
    assert uni == {0: True, 1: False}  # caught


def test_passage_dedup_sees_cjk_shared_passages(spark):
    from pharmacodi_spark.text.dedup import (
        passage_dedup_stats,
        passage_first_owner_stats,
    )

    shared = "共享的样板段落内容完全相同"  # 13 chars = shared boilerplate
    rows = [
        (0, shared + "文档零的独有结尾部分"),
        (1, shared + "文档壹另外一个结尾啊"),
        (2, "没有任何共享段落的独立文档内容在此"),
    ]
    df = _cjk_df(spark, rows)

    ws = {
        r["doc_id"]: r["n_dup_passages"]
        for r in passage_dedup_stats(df, window=4).collect()
    }
    assert ws == {0: 0, 1: 0, 2: 0}  # 1 token = 1 distinct passage each

    uni = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"])
        for r in passage_dedup_stats(df, window=4, tokens_col="toks").collect()
    }
    # 13 shared chars = 3 full shared windows (last window of each doc
    # mixes shared+unique chars, so 3 of the ~6 windows collide)
    assert uni[0][1] >= 3 and uni[1][1] >= 3 and uni[2][1] == 0

    owner = {
        r["doc_id"]: r["n_dup_passages"]
        for r in passage_first_owner_stats(
            df, window=4, tokens_col="toks"
        ).collect()
    }
    assert owner[0] == 0 and owner[1] >= 3 and owner[2] == 0


def test_boilerplate_strip_on_cjk_headers(spark):
    from pharmacodi_spark.text.cleaning import strip_source_boilerplate

    header = "版权所有转载必究"  # 8-char site banner
    rows = [
        (0, "cn", header + "第一篇正文内容"),
        (1, "cn", header + "第二篇不同正文"),
        (2, "cn", header + "第三篇另外正文"),
        (3, "en", "plain latin body text"),
        (4, "en", "second unrelated english body"),
    ]
    from pharmacodi_spark.text.analysis import unicode_tokens

    df = spark.createDataFrame(rows, ["doc_id", "source", "text"]).withColumn(
        "toks", unicode_tokens("text")
    )

    # whitespace view: each cn doc is ONE token; the 5-token "prefix" is
    # the whole (distinct) doc — no prefix reaches the 90% share gate,
    # so the shared 8-char banner is invisible
    ws = {
        r["doc_id"]: r["boilerplate_stripped"]
        for r in strip_source_boilerplate(
            df, prefix_tokens=5, min_share_ppm=900_000
        ).collect()
    }
    assert ws == {0: False, 1: False, 2: False, 3: False, 4: False}

    uni = {
        r["doc_id"]: (r["boilerplate_stripped"], r["stripped_text"])
        for r in strip_source_boilerplate(
            df, prefix_tokens=8, min_share_ppm=900_000, tokens_col="toks"
        ).collect()
    }
    assert uni[0][0] and uni[1][0] and uni[2][0]
    assert not uni[3][0] and not uni[4][0]
    assert header[0] not in uni[0][1]  # header chars gone
    assert "第" in uni[0][1]  # body retained (token space)


def test_hashed_scorers_see_cjk_features(spark):
    from pharmacodi_spark.text.analysis import hashed_lang_id, hashed_linear_score

    rows = [(0, "深度学习模型的训练数据"), (1, "plain latin words here")]
    df = _cjk_df(spark, rows)

    ws = {
        r["doc_id"]: r["n_tokens"]
        for r in hashed_linear_score(df).collect()
    }
    assert ws[0] == 1  # one giant feature: the degenerate view
    uni = {
        r["doc_id"]: r["n_tokens"]
        for r in hashed_linear_score(df, tokens_col="toks").collect()
    }
    assert uni[0] == 11 and uni[1] == 4

    lid = {
        r["doc_id"]: (r["n_tokens"], r["pred_lang"])
        for r in hashed_lang_id(
            df, langs=["en", "zh"], tokens_col="toks"
        ).collect()
    }
    assert lid[0][0] == 11 and lid[1][0] == 4
    assert all(p in ("en", "zh") for _, p in lid.values())


def test_fertility_and_entropy_on_cjk(spark):
    from pharmacodi_spark.text.analysis import token_entropy, tokenizer_fertility

    rows = [(0, "深度学习模型的训练数据质量很重要")]
    from pharmacodi_spark.text.analysis import unicode_tokens

    df = (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .withColumn("source", F.lit("cn"))
        .withColumn("toks", unicode_tokens("text"))
    )

    ws = tokenizer_fertility(df).collect()[0]
    uni = tokenizer_fertility(df, tokens_col="toks").collect()[0]
    assert ws["n_words"] == 1  # whitespace: 1 "word" → fertility blows up
    assert uni["n_words"] == 16
    assert uni["tokens_per_100_words"] < ws["tokens_per_100_words"]

    ws_e = token_entropy(df).collect()[0]
    uni_e = token_entropy(df, tokens_col="toks").collect()[0]
    assert ws_e["n_tokens"] == 1 and ws_e["entropy_fp"] == 0
    assert uni_e["n_tokens"] == 16 and uni_e["entropy_fp"] > 0
    assert uni_e["keep"] and not ws_e["keep"]


def test_chunking_and_report_on_cjk(spark):
    from pharmacodi_spark.text.corpus import chunk_documents, corpus_report

    rows = [(0, "深度学习模型的训练数据质量很重要所以要好好处理")]
    from pharmacodi_spark.text.analysis import unicode_tokens

    df = (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .withColumn("source", F.lit("cn"))
        .withColumn("lang", F.lit("zh"))
        .withColumn("toks", unicode_tokens("text"))
    )

    ws = chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    assert len(ws) == 1  # one token = one chunk, however long
    uni = chunk_documents(
        df, chunk_tokens=8, overlap=2, tokens_col="toks"
    ).collect()
    assert len(uni) == 4  # 23 chars / stride 6 → real chunking
    assert all(r["n_tokens"] <= 8 for r in uni)

    rep_ws = {
        r["metric"]: r["value"] for r in corpus_report(df).collect()
    }
    rep_uni = {
        r["metric"]: r["value"]
        for r in corpus_report(df, tokens_col="toks").collect()
    }
    assert rep_ws["n_tokens"] == 1 and rep_uni["n_tokens"] == 23


def test_phrase_detection_on_cjk(spark):
    from pharmacodi_spark.text.corpus import apply_phrases, detect_phrases

    # "深度" co-occurs as an adjacent char pair in every doc; whitespace
    # view sees 1-token docs (filtered before pair extraction entirely)
    rows = [
        (0, "深度学习很有深度"),
        (1, "深度模型的深度结构"),
        (2, "深度网络训练深度特征"),
    ]
    df = _cjk_df(spark, rows)

    ws = detect_phrases(df, min_count=2).collect()
    assert ws == []  # nothing detectable: no doc has ≥2 ws-tokens

    uni = {
        (r["a"], r["b"]): r["is_phrase"]
        for r in detect_phrases(
            df, min_count=2, tokens_col="toks"
        ).collect()
    }
    assert ("深", "度") in uni and uni[("深", "度")]

    merged = apply_phrases(
        df, phrases=[("深", "度")], tokens_col="toks"
    ).collect()
    for r in merged:
        assert "深_度" in r["phrased_text"]
        assert "深 度" not in r["phrased_text"]
