"""Streaming embedding-drift monitor: the additive projection statistics
against the frozen reference sidecar must sum to the batch twin for ANY
batching/arrival order, and micro-batch replay must leave the drift table
unchanged."""

from __future__ import annotations

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected
# (pytest.ini), included in CI mode with -m ""
pytestmark = pytest.mark.slow

import json
import os
import time

SCHEMA = "vec_id long, qe array<long>"


def _vectors(n=60, dim=6, drifted_from=None):
    import random

    rng = random.Random(17)
    rows = []
    for vid in range(n):
        base = [rng.randint(-4000, 4000) for _ in range(dim)]
        if drifted_from is not None and vid >= drifted_from:
            base = [x + 3000 for x in base]
        rows.append({"vec_id": vid, "qe": base})
    return rows


def _write_files(rows, src_dir, n_files=3, reverse=False):
    os.makedirs(src_dir)
    rows = sorted(rows, key=lambda r: r["vec_id"], reverse=reverse)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        path = os.path.join(src_dir, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


def _setup(spark, tmp_path, rows):
    from pharmacodi_spark.pipelines.drift_stream import (
        prepare_drift_reference,
    )

    ref = spark.createDataFrame(
        [(r["vec_id"], r["qe"]) for r in rows], SCHEMA
    )
    base = str(tmp_path / "state")
    mu, v = prepare_drift_reference(spark, base, ref)
    return base, mu, v


def test_stream_stats_sum_to_batch_twin_any_order(spark, tmp_path):
    from pharmacodi_spark.pipelines.drift_stream import (
        batch_drift_stats,
        read_drift_series,
        streaming_embedding_drift,
    )
    from pyspark.sql import functions as F

    rows = _vectors()
    base, mu, v = _setup(spark, tmp_path, rows)
    src = str(tmp_path / "incoming")
    # DESCENDING arrival — the reduction is pointwise-additive, so the
    # summed statistics must match for any order/batching
    _write_files(rows, src, reverse=True)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = streaming_embedding_drift(stream, base, str(tmp_path / "ckpt"))
    q.awaitTermination()

    series = read_drift_series(spark, base)
    assert series.count() == 3
    got = series.agg(
        F.sum("n").alias("n"),
        F.sum("sum_proj_q").alias("sp"),
        F.sum("sum_abs_proj_q").alias("sa"),
    ).collect()[0]
    whole = spark.createDataFrame(
        [(r["vec_id"], r["qe"]) for r in rows], SCHEMA
    )
    want = batch_drift_stats(whole, mu, v).collect()[0]
    assert (got["n"], got["sp"], got["sa"]) == (
        want["n"],
        want["sum_proj_q"],
        want["sum_abs_proj_q"],
    )


def test_replay_is_idempotent(spark, tmp_path):
    from pharmacodi_spark.pipelines.drift_stream import (
        read_drift_series,
        streaming_embedding_drift,
    )

    rows = _vectors(n=30)
    base, _mu, _v = _setup(spark, tmp_path, rows)
    src = str(tmp_path / "incoming")
    _write_files(rows, src, n_files=2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = streaming_embedding_drift(stream, base, str(tmp_path / "ckpt"))
    q.awaitTermination()
    before = sorted(
        tuple(r) for r in read_drift_series(spark, base).collect()
    )

    # fresh checkpoint = every batch re-delivered: the batch_id partitions
    # must be REWRITTEN with identical content, not appended
    stream2 = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q2 = streaming_embedding_drift(stream2, base, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    after = sorted(
        tuple(r) for r in read_drift_series(spark, base).collect()
    )
    assert after == before


def test_mean_shift_alerts_on_drifted_batch(spark, tmp_path):
    """A batch drawn from a shifted distribution must post a mean_shift2
    orders of magnitude above an in-distribution batch's."""
    from pharmacodi_spark.pipelines.drift_stream import batch_mean_shift2

    rows = _vectors(n=60)
    _base, mu, _v = _setup(spark, tmp_path, rows)
    ok_batch = spark.createDataFrame(
        [(r["vec_id"], r["qe"]) for r in rows[:30]], SCHEMA
    )
    drifted = spark.createDataFrame(
        [(r["vec_id"], [x + 3000 for x in r["qe"]]) for r in rows[30:]],
        SCHEMA,
    )
    s_ok = batch_mean_shift2(ok_batch, mu)
    s_bad = batch_mean_shift2(drifted, mu)
    # planted +3000 per dim over 6 dims ≈ 6·3000² = 54M; in-distribution
    # batches shift by sampling noise only
    assert s_bad > 20_000_000, s_bad
    assert s_bad > 20 * max(s_ok, 1), (s_ok, s_bad)
