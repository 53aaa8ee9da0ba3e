"""Durable stage barriers (VERDICT r5 item 2): every pin is
``localCheckpoint`` (fast, executor-local, the default) unless the Spark
conf ``spark.pharmacodi.barrierDir`` is set, in which case it is scratch
parquet that survives executor loss on preemptible clusters. Both must
produce identical rows; durable pins must leave their stage files in the
scratch dir. Each test computes its local rows first, then re-runs under
the ``durable_barriers`` fixture (tests/conftest.py)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected (pytest.ini),
# included in CI mode with -m ""
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue().lower()


def _pins(root, prefix):
    return [f for f in os.listdir(root) if f.startswith(prefix)]


def test_durable_needs_a_scratch_root(spark, tmp_path):
    # no barrierDir: the pin is a local checkpoint, nothing is written
    df = spark.range(3)
    out = stage_barrier(df, name="plain")
    assert _rows(out) == _rows(df)
    assert "parquet" not in _explain(out)
    assert os.listdir(tmp_path) == []
    # the mode is a deployment setting, not a per-call choice
    with pytest.raises(TypeError):
        stage_barrier(df, name="plain", mode="durable")


def test_stage_barrier_durable_roundtrip(spark, durable_barriers):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    with durable_barriers() as root:
        out = stage_barrier(df, name="rt")
        assert _rows(out) == _rows(df)
    # the pinned frame is a fresh parquet scan, not lineage over `df`
    assert _pins(root, "rt-")
    assert "parquet" in _explain(out)


def test_barrier_dir_conf_fallback(spark, durable_barriers):
    with durable_barriers() as root:
        out = stage_barrier(spark.range(5), name="conf")
        assert out.count() == 5
        assert _pins(root, "conf-")
    # leaving the fixture unsets the conf: pins are local again
    assert spark.conf.get("spark.pharmacodi.barrierDir", None) is None
    after = stage_barrier(spark.range(5), name="after")
    assert after.count() == 5 and not _pins(root, "after-")


def test_curation_pipeline_durable_matches_local(spark, durable_barriers):
    from pharmacodi_spark.plans.selection_q import curation_pipeline

    sf = "/root/testdata/sf0.001"
    local = _rows(curation_pipeline(spark, sf))
    with durable_barriers() as root:
        assert _rows(curation_pipeline(spark, sf)) == local
    # the four survivor-set barriers landed in scratch
    for stage in ("s1", "s2", "s3", "s4"):
        assert _pins(root, f"curation-{stage}"), stage


def test_surrogate_key_fact_durable_matches_local(spark, durable_barriers):
    from pharmacodi_spark.operators.keys import surrogate_key

    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("orig")
    )

    def keyed():
        out = surrogate_key(df, ["k", "orig"], dense_global=True)
        return _rows(out.select("k", "orig", "id"))

    local = keyed()
    with durable_barriers() as root:
        assert keyed() == local
    assert _pins(root, "surrogate-key-tagged-")


def test_connected_components_durable_matches_local(
    spark, durable_barriers, cc_path
):
    from pharmacodi_spark.text.clusters import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 10)],
        ["doc_a", "doc_b"],
    )
    local = _rows(connected_components(edges))
    with durable_barriers() as root:
        assert _rows(connected_components(edges)) == local
    assert _pins(root, "cc-edges0-")
    if cc_path == "loop":
        assert _pins(root, "cc-contract-")


def test_pagerank_durable_matches_local(spark, durable_barriers):
    from pharmacodi_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], ["src", "dst"]
    )
    kw = dict(iterations=8, dangling="redistribute")
    local = _rows(pagerank_int(edges, **kw))
    with durable_barriers() as root:
        assert _rows(pagerank_int(edges, **kw)) == local
    assert _pins(root, "pagerank-iter4-")


# --- pins that took no mode before barrierDir became the one setting ------


def _upsert(spark, path, partition_by):
    from pharmacodi_spark.io import merge_upsert

    spark.createDataFrame(
        [(1, "DS0", 10.0), (2, "DS0", 20.0), (3, "DS1", 30.0)],
        ["k", "ds", "v"],
    ).write.parquet(path, partitionBy=partition_by)
    updates = spark.createDataFrame(
        [(2, "DS0", 99.0), (4, "DS1", 40.0)], ["k", "ds", "v"]
    )
    merge_upsert(spark, path, updates, key_cols=["k"], partition_by=partition_by)
    return _rows(spark.read.parquet(path).select("k", "ds", "v"))


@pytest.mark.parametrize(
    "partition_by, pin",
    [(None, "merge-upsert-"), ("ds", "merge-upsert-partitions-")],
)
def test_merge_upsert_durable_matches_local(
    spark, tmp_path, durable_barriers, partition_by, pin
):
    local = _upsert(spark, str(tmp_path / "local"), partition_by)
    with durable_barriers() as root:
        assert _upsert(spark, str(tmp_path / "durable"), partition_by) == local
    assert _pins(root, pin)


def _ingest_state(spark, base):
    from tests.test_ingest_pipeline import BATCH1, BATCH2, _df

    from pharmacodi_spark.pipelines.ingest import ingest_batch

    for rows in (BATCH1, BATCH2):
        ingest_batch(spark, base, _df(spark, rows))
    return tuple(
        _rows(spark.read.parquet(f"{base}/{t}"))
        for t in ("corpus", "hash_index", "bucket_index")
    )


def test_ingest_batch_durable_matches_local(spark, tmp_path, durable_barriers):
    local = _ingest_state(spark, str(tmp_path / "local"))
    with durable_barriers() as root:
        durable = _ingest_state(spark, str(tmp_path / "durable"))
    # corpus digest and both indices equal the local run's
    assert durable == local
    assert _pins(root, "ingest-survivors-")
    assert _pins(root, "merge-upsert-")


def test_curation_stream_replay_durable_matches_local(
    spark, tmp_path, durable_barriers
):
    from tests.test_curation_stream import _setup, _snap, _split_batches

    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch

    def replayed(sub):
        _docs, base, rows = _setup(spark, tmp_path / sub)
        b1, b2 = _split_batches(spark, rows)
        curate_stream_batch(spark, base, b1, batch_id=0)
        curate_stream_batch(spark, base, b2, batch_id=1)
        curate_stream_batch(spark, base, b2, batch_id=1)  # replay
        return _snap(spark, base)

    local = replayed("local")
    with durable_barriers() as root:
        assert replayed("durable") == local
    assert local[0]
    assert _pins(root, "curation-survivors-")
