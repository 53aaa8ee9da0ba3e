"""Streaming winnow index (pipelines/winnow_stream.py): the maintained
index equals the batch fingerprints of everything ingested, in-batch-order
flags match the sequential batch replay, and re-drains are idempotent."""

from __future__ import annotations

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected (pytest.ini),
# included in CI mode with -m ""
pytestmark = pytest.mark.slow

import json
import os
import time

K, W = 3, 4
SCHEMA = "doc_id long, text string"


def _mk_docs():
    para = " ".join(f"p{i}" for i in range(15))
    corpus = [
        (100, "alpha beta gamma " + para + " tail words here"),
        (101, " ".join(f"c{i}" for i in range(25))),
    ]
    arriving = [
        (0, "fresh intro " + para + " fresh outro"),   # overlaps corpus
        (1, " ".join(f"n{i}" for i in range(20))),      # novel
        (2, "fresh intro " + para + " fresh outro x"),  # overlaps doc 0 too
    ]
    return corpus, arriving


def _write_files(rows, src_dir):
    os.makedirs(src_dir)
    for i, r in enumerate(sorted(rows, key=lambda r: r[0])):
        path = os.path.join(src_dir, f"b{i}.json")
        with open(path, "w") as f:
            f.write(json.dumps({"doc_id": r[0], "text": r[1]}) + "\n")
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


def _drain(spark, base, src, ckpt):
    from pharmacodi_spark.pipelines.winnow_stream import (
        streaming_winnow_ingest,
    )

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = streaming_winnow_ingest(
        stream, base, ckpt, k=K, w=W
    )
    q.awaitTermination()


def test_stream_index_and_flags(spark, tmp_path):
    from pharmacodi_spark.pipelines.winnow_stream import (
        prepare_winnow_index,
        read_flags,
        read_winnow_index,
    )
    from pharmacodi_spark.text.winnow import winnow_fingerprints

    corpus, arriving = _mk_docs()
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    base = str(tmp_path / "wn")
    prepare_winnow_index(spark, base, cdf, k=K, w=W)

    src = str(tmp_path / "incoming")
    _write_files(arriving, src)
    _drain(spark, base, src, str(tmp_path / "ckpt"))

    # maintained index == batch fingerprints of corpus + all arrived docs
    all_docs = spark.createDataFrame(corpus + arriving, ["doc_id", "text"])
    want = {
        (r["doc_id"], r["pos"], r["h"])
        for r in winnow_fingerprints(all_docs, k=K, w=W).collect()
    }
    got = {
        (r["doc_id"], r["pos"], r["h"])
        for r in read_winnow_index(spark, base).collect()
    }
    assert got == want

    flags = {r["doc_id"]: r for r in read_flags(spark, base).collect()}
    assert 0 in flags and flags[0]["best_match"] == 100
    assert 1 not in flags                       # novel doc unflagged
    assert 2 in flags                           # flagged vs corpus or doc 0
    assert flags[2]["best_match"] in (0, 100)

    # re-drain from a fresh checkpoint: same files, same batch ids, so the
    # strictly-earlier index view reproduces — index AND flag rows unchanged
    _drain(spark, base, src, str(tmp_path / "ckpt2"))
    got2 = {
        (r["doc_id"], r["pos"], r["h"])
        for r in read_winnow_index(spark, base).collect()
    }
    assert got2 == got
    flags2 = {r["doc_id"]: r for r in read_flags(spark, base).collect()}
    assert {k: tuple(v) for k, v in flags2.items()} == {
        k: tuple(v) for k, v in flags.items()
    }


def test_index_scan_prunes_to_hash_buckets(spark, tmp_path):
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from pharmacodi_spark.pipelines.winnow_stream import (
        prepare_winnow_index,
        read_winnow_index,
    )

    corpus, _ = _mk_docs()
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    base = str(tmp_path / "wn")
    prepare_winnow_index(spark, base, cdf, k=K, w=W)
    df = read_winnow_index(spark, base).where(F.col("h_bucket") == 7)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", buf.getvalue())
    assert m and "h_bucket" in m.group(1)
