"""60-bit SimHash (text/dedup.py::md5_simhash(bits=60) +
text/dedup.py::simhash_near_pairs at the production width): pure-Python
replay equality, the width guard, and the saturation contrast the r11
detector_agreement root-cause documented (16-bit collides on unrelated
docs at density; 60-bit does not)."""

from __future__ import annotations

import hashlib
import random

import pytest


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_simhash(text: str, bits: int) -> int:
    sums = [0] * bits
    for tok in text.split(" "):
        h = _md5_60(tok)
        for j in range(bits):
            sums[j] += 1 if (h >> j) & 1 else -1
    return sum((1 << j) for j in range(bits) if sums[j] > 0)


def test_wide_simhash_matches_python_replay(spark):
    from pharmacodi_spark.text.dedup import md5_simhash

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{rng.randint(0, 500)}" for _ in range(30)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["simhash"]
        for r in md5_simhash(df, bits=60).collect()
    }
    for i, t in rows:
        assert got[i] == _py_simhash(t, 60), i


def test_width_guard_and_pair_equivalence(spark):
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs

    with pytest.raises(AssertionError, match="60"):
        md5_simhash(spark.range(1), bits=61)

    # planted near-dups: doc 2k+1 = doc 2k with one token changed; the
    # 60-bit pipeline must pair exactly the planted twins (brute-force
    # hamming referee)
    rng = random.Random(13)
    base = [
        " ".join(f"t{rng.randint(0, 10**6)}" for _ in range(120))
        for _ in range(12)
    ]
    rows = []
    for k, b in enumerate(base):
        rows.append((2 * k, b))
        toks = b.split(" ")
        toks[5] = "CHANGED"  # 1 of 120 tokens: expected bit flips ~60*P(|sum|<=2) ~ 5
        rows.append((2 * k + 1, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sim = md5_simhash(df, bits=60)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(
            sim, max_hamming=15, prefix_bits=8, bits=60, max_cell_size=256
        ).collect()
    }
    # brute-force referee restricted to the same prefix blocking
    fps = {i: _py_simhash(t, 60) for i, t in rows}
    expect = {
        (a, b)
        for a in fps
        for b in fps
        if a < b
        and (fps[a] >> 52) == (fps[b] >> 52)
        and bin(fps[a] ^ fps[b]).count("1") <= 15
    }
    assert got == expect
    # the planted twins are found (same prefix with overwhelming
    # probability at 120-token overlap; assert at least 10 of 12)
    twins = {(2 * k, 2 * k + 1) for k in range(12)}
    assert len(got & twins) >= 10


def test_16bit_saturates_where_60bit_does_not(spark):
    # the r11 root-cause in miniature: unrelated random docs collide at
    # hamming<=3 in a 16-bit space but essentially never in 60 bits
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs

    rng = random.Random(99)
    rows = [
        (i, " ".join(f"u{rng.randint(0, 10**9)}_{i}_{j}" for j in range(25)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    narrow = simhash_near_pairs(
        md5_simhash(df, bits=16),
        max_hamming=3, prefix_bits=8, bits=16, max_cell_size=256,
    ).count()
    wide = simhash_near_pairs(
        md5_simhash(df, bits=60),
        max_hamming=3, prefix_bits=8, bits=60, max_cell_size=256,
    ).count()
    assert narrow > 0  # 300 unrelated docs already collide at 16 bits
    assert wide == 0  # 2^60 space: no false pairs
