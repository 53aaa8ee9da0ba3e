"""Model-based quality filtering: the hashing-trick linear scorer with
REAL injected weights (the production seam) and the bigram-LM gate's
order sensitivity (which unigram statistics cannot see)."""

from __future__ import annotations

import hashlib


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_hashed_linear_score_with_injected_weights(spark):
    """Weights trained elsewhere (here: +100 for 'good' features, -100 for
    'bad') drive keep decisions through the element_at path — and the
    scores match a pure-Python replay of the same hashing trick."""
    from pharmacodi_spark.text.analysis import hashed_linear_score

    dim, salt = 64, "s"
    weights = [0] * dim
    for tok, wt in [("good", 100), ("great", 100), ("bad", -100), ("awful", -100)]:
        weights[_md5int(salt + tok) % dim] = wt
    docs = [
        (1, "good great good"),
        (2, "bad awful bad awful"),
        (3, "good bad"),          # nets to hash-collision-dependent sum
        (4, ""),                  # empty: score 0, keep false
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_tokens, r.score_centi, r.keep)
        for r in hashed_linear_score(
            df, weights=weights, dim=dim, salt=salt
        ).collect()
    }

    def py_score(text):
        return sum(weights[_md5int(salt + t) % dim] for t in text.split())

    for i, text in docs:
        n = len([t for t in text.split() if t])
        assert out[i][0] == n
        assert out[i][1] == py_score(text), (i, out[i])
        assert out[i][2] == (n > 0 and 100 * py_score(text) >= 0)
    assert out[1][2] is True and out[2][2] is False and out[4][2] is False


def test_bigram_surprisal_sees_token_order(spark):
    """Two docs with IDENTICAL unigram distributions but different order:
    the templated one (repeating the corpus-frequent transition) must
    score lower mean bits than the scrambled one."""
    from pharmacodi_spark.text.corpus import bigram_surprisal, unigram_surprisal

    template = "a b " * 20            # transitions a->b, b->a, frequent
    scrambled = "a a b b a b b a " * 5  # same tokens, mixed transitions
    df = spark.createDataFrame(
        [(1, template.strip()), (2, scrambled.strip())],
        "doc_id long, text string",
    )
    bi = {r.doc_id: r.mean_bits for r in bigram_surprisal(df).collect()}
    uni = {r.doc_id: r.mean_bits for r in unigram_surprisal(df).collect()}
    # unigram model cannot distinguish them (same token counts)
    assert abs(uni[1] - uni[2]) < 0.3
    # bigram model can: the pure template is far more predictable
    assert bi[1] < bi[2], (bi,)


def test_bigram_surprisal_short_docs_report_no_row(spark):
    from pharmacodi_spark.text.corpus import bigram_surprisal

    df = spark.createDataFrame(
        [(1, "only"), (2, ""), (3, "two tokens")], "doc_id long, text string"
    )
    rows = {r.doc_id for r in bigram_surprisal(df).collect()}
    assert rows == {3}


def test_hashed_lang_id_detects_mislabels(spark):
    """The fasttext-shaped lang head with INJECTED (trained-ish) weights:
    language-marker tokens carry positive weight only in their language's
    vector, so a 'de'-claimed doc written in English detects as 'en' and
    the confusion rollup surfaces the mislabel."""
    from pharmacodi_spark.text.analysis import hashed_lang_id, lang_confusion

    dim, salt = 256, "lid"
    markers = {
        "de": ["der", "und", "nicht", "das"],
        "en": ["the", "and", "not", "that"],
        "fr": ["le", "et", "pas", "que"],
    }
    langs = sorted(markers)
    weights = {l: [0] * dim for l in langs}
    for l, toks in markers.items():
        for t in toks:
            weights[l][_md5int(salt + t) % dim] += 100
    rows = [
        (0, "de", "der hund und nicht das haus"),          # correct de
        (1, "de", "the dog and not that house"),           # MISLABELED
        (2, "en", "the cat and the dog that ran"),         # correct en
        (3, "fr", "le chat et le chien pas que"),          # correct fr
        (4, "fr", "the quick and brown fox not that"),     # MISLABELED
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    scored = hashed_lang_id(df, langs=langs, weights=weights, dim=dim)
    got = {r["doc_id"]: r["pred_lang"] for r in scored.collect()}
    assert got == {0: "de", 1: "en", 2: "en", 3: "fr", 4: "en"}

    conf = {
        (r["lang"], r["pred_lang"]): (r["n_docs"], r["share_ppm"])
        for r in lang_confusion(df, scored=scored).collect()
    }
    assert conf[("de", "en")] == (1, 500_000)   # the mislabel row
    assert conf[("de", "de")] == (1, 500_000)
    assert conf[("fr", "en")] == (1, 500_000)
    assert conf[("en", "en")] == (1, 1_000_000)


def test_hashed_lang_id_tie_break_and_empty(spark):
    """Deterministic argmax: exact score ties go to the lexicographically
    smallest language; token-less docs predict 'und'."""
    from pharmacodi_spark.text.analysis import hashed_lang_id

    dim = 64
    # zero weights everywhere -> every language ties at 0
    weights = {l: [0] * dim for l in ["aa", "bb", "cc"]}
    df = spark.createDataFrame(
        [(0, "some words here"), (1, " ")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["pred_lang"], r["n_tokens"])
        for r in hashed_lang_id(
            df, langs=["aa", "bb", "cc"], weights=weights, dim=dim
        ).collect()
    }
    assert got[0] == ("aa", 3)    # tie -> smallest lang
    assert got[1] == ("und", 0)   # no tokens
