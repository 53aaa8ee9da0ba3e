"""pipelines/decontam_stream.py: streamed verdicts against the frozen
eval-signature sidecar are ROW-IDENTICAL to the one-shot batch operator,
replay-idempotent, and re-freezable."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pharmacodi_spark.pipelines.decontam_stream import (
    decontam_stream_batch,
    freeze_eval_signatures,
    read_decontam_verdicts,
    streaming_fuzzy_decontam,
)
from pharmacodi_spark.text.cleaning import fuzzy_decontaminate

KW = dict(num_hashes=16, bands=8, min_est_ppm=300_000)


def _corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return train, ev


def _write_json_batches(rows, src_dir, n_files=3):
    os.makedirs(src_dir)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        path = os.path.join(src_dir, f"b{i}.json")
        with open(path, "w") as f:
            for doc_id, text in rows[i * per : (i + 1) * per]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


@pytest.mark.slow
def test_decontam_stream_equals_batch(spark, tmp_path):
    train, ev = _corpus(spark)
    base = str(tmp_path / "state")
    freeze_eval_signatures(ev, base)

    rows = [(r["doc_id"], r["text"]) for r in train.collect()]
    src = str(tmp_path / "incoming")
    _write_json_batches(rows, src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = streaming_fuzzy_decontam(
        stream, base, str(tmp_path / "ckpt"), **KW
    )
    q.awaitTermination()

    got = sorted(
        map(
            tuple,
            read_decontam_verdicts(spark, base)
            .drop("batch_id")
            .collect(),
        )
    )
    want = sorted(map(tuple, fuzzy_decontaminate(train, ev, **KW).collect()))
    assert got == want and got


def test_decontam_stream_replay_idempotent(spark, tmp_path):
    train, ev = _corpus(spark)
    base = str(tmp_path / "state")
    freeze_eval_signatures(ev, base)
    rows = train.collect()
    half = len(rows) // 2
    b1 = spark.createDataFrame(rows[:half], train.schema)
    b2 = spark.createDataFrame(rows[half:], train.schema)
    decontam_stream_batch(spark, base, b1, batch_id=0, **KW)
    decontam_stream_batch(spark, base, b2, batch_id=1, **KW)
    before = sorted(
        map(tuple, read_decontam_verdicts(spark, base).collect())
    )
    decontam_stream_batch(spark, base, b2, batch_id=1, **KW)  # replay
    after = sorted(
        map(tuple, read_decontam_verdicts(spark, base).collect())
    )
    assert before == after and before


def test_refreeze_changes_verdicts(spark, tmp_path):
    """Adding a benchmark to the suite = sidecar rewrite + window replay:
    a train doc that matched nothing becomes flagged once its twin enters
    the frozen eval set."""
    base = str(tmp_path / "state")
    text = " ".join(f"w{i:02d}" for i in range(40))
    train = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    ev0 = spark.createDataFrame(
        [(1000, "completely different benchmark words about spark plans "
                "and shuffle partitions in a long sentence")],
        ["doc_id", "text"],
    )
    freeze_eval_signatures(ev0, base)
    decontam_stream_batch(spark, base, train, batch_id=0, **KW)
    [v0] = read_decontam_verdicts(spark, base).collect()
    assert v0["keep"] is True

    ev1 = ev0.unionByName(
        spark.createDataFrame([(2000, text)], ["doc_id", "text"])
    )
    freeze_eval_signatures(ev1, base)
    decontam_stream_batch(spark, base, train, batch_id=0, **KW)  # replay
    [v1] = read_decontam_verdicts(spark, base).collect()
    assert v1["keep"] is False and v1["matched_eval_id"] == 2000
