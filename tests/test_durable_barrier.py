"""Durable stage barriers (VERDICT r5 item 2): every multi-stage cascade
accepts barrier="local" (localCheckpoint — fast, executor-local, the
sandbox default) or barrier="durable" (scratch parquet — survives executor
loss on preemptible clusters). Both modes must produce identical rows; the
durable mode must leave its stage files in the scratch dir."""

from __future__ import annotations

import os

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected (pytest.ini),
# included in CI mode with -m ""
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_durable_needs_a_scratch_root(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="barrierDir"):
        stage_barrier(df, mode="durable")
    with pytest.raises(ValueError, match="mode"):
        stage_barrier(df, mode="replicated")


def test_stage_barrier_durable_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = stage_barrier(df, mode="durable", name="rt", barrier_dir=str(tmp_path))
    assert _rows(out) == _rows(df)
    # the pinned frame is a fresh parquet scan, not lineage over `df`
    files = os.listdir(tmp_path)
    assert any(f.startswith("rt-") for f in files)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "parquet" in buf.getvalue().lower()


def test_barrier_dir_conf_fallback(spark, tmp_path):
    spark.conf.set("spark.pharmacodi.barrierDir", str(tmp_path))
    try:
        out = stage_barrier(spark.range(5), mode="durable", name="conf")
        assert out.count() == 5
        assert any(f.startswith("conf-") for f in os.listdir(tmp_path))
    finally:
        spark.conf.unset("spark.pharmacodi.barrierDir")


def test_curation_pipeline_durable_matches_local(spark, tmp_path):
    from pharmacodi_spark.plans.extensions2 import curation_pipeline

    sf = "/root/testdata/sf0.001"
    local = curation_pipeline(spark, sf)
    durable = curation_pipeline(
        spark, sf, barrier="durable", barrier_dir=str(tmp_path)
    )
    assert _rows(durable) == _rows(local)
    # three stage barriers landed in scratch
    assert any(f.startswith("curation-s1") for f in os.listdir(tmp_path))
    assert any(f.startswith("curation-s2") for f in os.listdir(tmp_path))
    assert any(f.startswith("curation-s3") for f in os.listdir(tmp_path))


def test_surrogate_key_fact_durable_matches_local(spark, tmp_path):
    from pharmacodi_spark.operators.keys import surrogate_key

    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("orig")
    )
    a = surrogate_key(df, ["k", "orig"], dense_global=True)
    b = surrogate_key(
        df, ["k", "orig"], dense_global=True,
        barrier="durable", barrier_dir=str(tmp_path),
    )
    assert _rows(a.select("k", "orig", "id")) == _rows(b.select("k", "orig", "id"))


def test_connected_components_durable_matches_local(spark, tmp_path, cc_path):
    from pharmacodi_spark.text.clusters import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 10)],
        ["doc_a", "doc_b"],
    )
    a = connected_components(edges)
    b = connected_components(
        edges, barrier="durable", barrier_dir=str(tmp_path)
    )
    assert _rows(a) == _rows(b)


def test_pagerank_durable_matches_local(spark, tmp_path):
    from pharmacodi_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], ["src", "dst"]
    )
    a = pagerank_int(edges, iterations=8, dangling="redistribute")
    b = pagerank_int(
        edges, iterations=8, dangling="redistribute",
        barrier="durable", barrier_dir=str(tmp_path),
    )
    assert _rows(a) == _rows(b)
