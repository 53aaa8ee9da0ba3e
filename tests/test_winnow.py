"""Winnowing (text/winnow.py): pure-Python replay of the robust-winnowing
selection rule, the paper's match guarantee, and hot-hash guard exactness."""

from __future__ import annotations

import hashlib
import random

from pharmacodi_spark.text.winnow import (
    gram_hashes,
    winnow_fingerprints,
    winnow_overlap_pairs,
)

K, W = 3, 4


def _h(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)


def _py_winnow(text: str, k: int = K, w: int = W) -> set[tuple[int, int]]:
    toks = [t for t in text.split(" ") if t]
    if len(toks) < k:
        return set()
    hs = [_h(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
    sel = set()
    for s in range(max(len(hs) - w + 1, 1)):
        win = hs[s : s + w]
        m = min(win)
        j = max(i for i, v in enumerate(win) if v == m)  # rightmost tie
        sel.add((s + j + 1, m))  # 1-based gram position
    return sel


def _docs(seed: int, n_docs: int, vocab: int, max_len: int):
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    return [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, max_len))))
        for i in range(n_docs)
    ]


def test_winnow_matches_python_replay(spark):
    # tiny vocab forces repeated grams -> exercises the rightmost tie-break
    rows = _docs(seed=7, n_docs=40, vocab=5, max_len=30)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=K, w=W).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _py_winnow(text), doc_id


def test_winnow_match_guarantee(spark):
    # the paper's guarantee: a shared token run of >= w + k - 1 tokens
    # contributes at least one COMMON fingerprint hash
    shared = " ".join(f"s{i}" for i in range(W + K - 1))
    rows = [
        (0, "alpha beta gamma " + shared + " delta epsilon zeta"),
        (1, "one two three four five " + shared),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = winnow_fingerprints(df, k=K, w=W).collect()
    h0 = {r["h"] for r in fp if r["doc_id"] == 0}
    h1 = {r["h"] for r in fp if r["doc_id"] == 1}
    assert h0 & h1, "shared run produced no common fingerprint"


def test_winnow_density_and_short_docs(spark):
    rows = [
        (0, "a b"),                      # < k tokens: no grams
        (1, "a b c"),                    # exactly one gram (< w hashes)
        (2, " ".join(f"t{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = winnow_fingerprints(df, k=K, w=W).collect()
    by_doc: dict[int, int] = {}
    for r in fp:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + 1
    assert 0 not in by_doc
    assert by_doc[1] == 1  # every doc with >= 1 gram fingerprints at least once
    n_grams = 50 - K + 1
    n_windows = n_grams - W + 1
    assert 1 <= by_doc[2] <= n_windows


def test_overlap_pairs_capped_equals_plain(spark):
    rows = _docs(seed=11, n_docs=60, vocab=4, max_len=25)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = winnow_fingerprints(df, k=K, w=W)
    plain = {
        (r["doc_a"], r["doc_b"], r["shared"])
        for r in winnow_overlap_pairs(fp).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], r["shared"])
        for r in winnow_overlap_pairs(fp, max_cell_size=3).collect()
    }
    assert plain == capped and plain, "guard changed the pair multiset"


def test_gram_hashes_positions(spark):
    df = spark.createDataFrame([(0, "x y z x y z")], ["doc_id", "text"])
    rows = gram_hashes(df, k=3).collect()
    assert [r["pos"] for r in sorted(rows, key=lambda r: r["pos"])] == [1, 2, 3, 4]
    assert all(r["n_grams"] == 4 for r in rows)
    # identical grams -> identical hashes (positions 1 and 4: "x y z")
    h = {r["pos"]: r["h"] for r in rows}
    assert h[1] == h[4]
