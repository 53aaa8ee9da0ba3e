"""Streaming ANN index maintenance: keep an IVF index current as new
embeddings arrive, without retraining or re-assigning the corpus.

Production shape mirrors the repo's other streaming twins
(selection_stream's frozen λ, curation_stream's frozen LM): the COARSE
QUANTIZER is a frozen sidecar — centroids are trained once on a corpus
snapshot (every production IVF deployment freezes the quantizer between
rebuilds; re-training per batch would silently re-shard the whole index)
— and each micro-batch is assigned POINTWISE against it:

- **prepare** (batch, once per rebuild): k-means|| centroids
  (``text/similarity.py::train_ivf_centroids``) persisted under
  ``base_dir/centroids`` (n_centroids rows of index metadata), and the
  snapshot corpus assigned + written as the initial ``index`` table,
  PARTITIONED BY ``centroid_id`` — probes prune to the probed cells'
  partitions, the IVF scale story;
- **stream** (``foreachBatch``): centroids load once at stream definition
  (bounded collect, the ANN-seed budget class), each micro-batch runs
  ``ivf_assign`` (zero-shuffle: the centroid matrix rides as a broadcast
  one-row table) and MERGE-upserts into the index keyed by id — dynamic
  partition overwrite rewrites ONLY the cells the batch touched;
  re-delivered ids land in their (deterministic) cell again, so replay is
  idempotent.

Equivalence contract (tests/test_ann_stream.py): assignment is pointwise
given frozen centroids, so the maintained index is ROW-IDENTICAL to the
batch twin over the concatenated corpus for ANY arrival order, and a
probe over the maintained index equals the same probe over a
batch-assigned union.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.io import merge_upsert
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.similarity import ivf_assign, train_ivf_centroids


def prepare_ann_index(
    spark: SparkSession,
    base_dir: str,
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train the frozen coarse quantizer on the snapshot corpus, persist it
    as the ``centroids`` sidecar, and write the snapshot's assignments as
    the initial index table (partitioned by cell). Returns the centroids.
    """
    cents = train_ivf_centroids(
        corpus, n_centroids=n_centroids, vec_col=vec_col
    )
    local_df(
        spark,
        list(enumerate(cents)),
        ["centroid_id", "centroid"],
        types=["int", "array<double>"],
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base_dir, "centroids")
    )
    assigned = ivf_assign(corpus, cents, vec_col=vec_col).select(
        id_col, vec_col, "centroid_id"
    )
    assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(
        os.path.join(base_dir, "index")
    )
    return cents


def load_centroids(spark: SparkSession, base_dir: str) -> list[list[float]]:
    """Read the frozen quantizer back into the centroid list ``ivf_assign``
    consumes (bounded collect: n_centroids rows)."""
    rows = spark.read.parquet(os.path.join(base_dir, "centroids")).collect()
    cents: list[list[float]] = [[] for _ in range(len(rows))]
    for r in rows:
        cents[r["centroid_id"]] = [float(x) for x in r["centroid"]]
    assert all(c for c in cents), "centroid sidecar has gaps"
    return cents


def streaming_ivf_upserts(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Maintain the IVF index from an embedding stream (drained by
    streaming/ops.py::drain_foreach_batch; the first batch seeds the index
    if it is absent). Returns the started query."""
    cents = load_centroids(stream.sparkSession, base_dir)

    def do_batch(batch: DataFrame, _batch_id: int) -> None:
        assigned = ivf_assign(batch, cents, vec_col=vec_col).select(
            id_col, vec_col, "centroid_id"
        )
        path = os.path.join(base_dir, "index")
        merge_upsert(
            batch.sparkSession, path, assigned, [id_col], partition_by="centroid_id"
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def batch_ivf_index(
    spark: SparkSession,
    base_dir: str,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The batch twin: assign the whole corpus in one pass against the
    same frozen quantizer the stream uses."""
    cents = load_centroids(spark, base_dir)
    return ivf_assign(corpus, cents, vec_col=vec_col).select(
        id_col, vec_col, "centroid_id"
    )


def read_index(spark: SparkSession, base_dir: str) -> DataFrame:
    """The maintained index table (cell-partitioned scan; filtering on
    ``centroid_id`` prunes to the probed cells' files)."""
    return spark.read.parquet(os.path.join(base_dir, "index"))
