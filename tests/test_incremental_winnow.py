"""winnow_incremental_flags (text/winnow.py): a lifted paragraph inside a
fresh document must flag against the corpus doc it came from."""

from __future__ import annotations

from pharmacodi_spark.text.winnow import (
    winnow_fingerprints,
    winnow_incremental_flags,
)

K, W = 3, 4


def test_lifted_paragraph_flags_its_source(spark):
    para = " ".join(f"p{i}" for i in range(20))
    corpus = [
        (100, "alpha beta gamma delta " + para + " omega psi chi"),
        (101, " ".join(f"c{i}" for i in range(30))),
    ]
    new = [
        # fresh text surrounding the lifted paragraph
        (0, "totally new intro words " + para + " and a new outro"),
        (1, " ".join(f"n{i}" for i in range(25))),  # genuinely new
    ]
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    ndf = spark.createDataFrame(new, ["doc_id", "text"])
    idx = winnow_fingerprints(cdf, k=K, w=W)
    nfp = winnow_fingerprints(ndf, k=K, w=W)
    flags = {
        r["doc_id"]: r
        for r in winnow_incremental_flags(nfp, idx).collect()
    }
    assert 0 in flags and flags[0]["best_match"] == 100
    assert flags[0]["shared"] >= 2
    assert 0 < flags[0]["containment_ppm"] <= 1_000_000
    assert 1 not in flags  # novel doc passes


def test_exact_duplicate_has_full_containment(spark):
    text = " ".join(f"t{i}" for i in range(40))
    cdf = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    ndf = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    flags = winnow_incremental_flags(
        winnow_fingerprints(ndf, k=K, w=W),
        winnow_fingerprints(cdf, k=K, w=W),
    ).collect()
    assert len(flags) == 1
    assert flags[0]["containment_ppm"] == 1_000_000
