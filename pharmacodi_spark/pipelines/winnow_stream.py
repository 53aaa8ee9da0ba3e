"""Streaming winnow-fingerprint index: passage-granular ingest dedup that
keeps itself current.

Completes the winnowing family (text/winnow.py) the way ann_stream
completes IVF: the corpus fingerprint index is a maintained table, each
arriving micro-batch is (1) fingerprinted, (2) flagged against the index
(``winnow_incremental_flags`` — "is this, or a paragraph of it, already
in the corpus?"), and (3) its own fingerprints are upserted so later
batches dedup against it too. Flags append to an audit log (the admit /
reject decision is the caller's policy — same division of labor as
curation_stream's gates).

Replay contract (exactly-once flags): index rows carry the ``batch_id``
that wrote them (the corpus seed is batch −1), and flagging joins ONLY
strictly-earlier entries (``index.batch_id < current``). Structured
Streaming re-delivers a failed batch under the SAME batch id, so a
replayed batch sees the identical index view — its flags recompute
bit-identically and the keyed upserts rewrite identical rows (the same
per-batch-id discipline as the CM-sketch stream). Arrival ORDER still
matters semantically (a doc arriving before its twin is novel; after,
flagged) — the first-owner semantics of the curation stream's passage
dedup.

Scale: each micro-batch ships (id, pos, 8-byte h) rows; the index join is
hash-keyed; index partitioning is ``pmod(h, n_h_buckets)`` so both the
flag join and the upsert rewrite prune to the hash buckets the batch
touches, not the whole index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.io import merge_upsert, path_exists
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.winnow import (
    winnow_fingerprints,
    winnow_incremental_flags,
)

N_H_BUCKETS = 64


def _with_bucket(fp: DataFrame, batch_id: int) -> DataFrame:
    return fp.withColumn(
        "h_bucket", F.pmod(F.col("h"), F.lit(N_H_BUCKETS))
    ).withColumn("batch_id", F.lit(int(batch_id)))


def prepare_winnow_index(
    spark: SparkSession,
    base_dir: str,
    corpus: DataFrame,
    k: int = 5,
    w: int = 4,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Seed the index with the snapshot corpus's fingerprints,
    hash-bucket-partitioned so flag joins and upserts prune."""
    fp = winnow_fingerprints(
        corpus, content_col=content_col, id_col=id_col, k=k, w=w
    )
    _with_bucket(fp, -1).write.partitionBy("h_bucket").mode(
        "overwrite"
    ).parquet(os.path.join(base_dir, "index"))


def read_winnow_index(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "index"))


def streaming_winnow_ingest(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    w: int = 4,
    content_col: str = "text",
    id_col: str = "doc_id",
):
    """Flag-then-admit each micro-batch against the maintained index
    (drained by streaming/ops.py::drain_foreach_batch). Flags land in
    ``base_dir/flags`` (keyed upsert — replay-idempotent); fingerprints
    upsert into ``base_dir/index``, which the first batch seeds."""

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # consumed by flag join AND index upsert
        fp = stage_barrier(
            winnow_fingerprints(
                batch, content_col=content_col, id_col=id_col, k=k, w=w
            ),
            name="winnow-fingerprints",
        )
        idx_path = os.path.join(base_dir, "index")
        if path_exists(spark, idx_path):
            # strictly-earlier view: a replayed batch (same batch_id) sees
            # the index exactly as it did on first delivery
            idx = spark.read.parquet(idx_path).where(
                F.col("batch_id") < int(batch_id)
            )
            flags = winnow_incremental_flags(fp, idx, id_col=id_col)
            merge_upsert(spark, os.path.join(base_dir, "flags"), flags, [id_col])
        merge_upsert(
            spark,
            idx_path,
            _with_bucket(fp, batch_id),
            key_cols=[id_col, "pos"],
            partition_by="h_bucket",
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def read_flags(spark: SparkSession, base_dir: str) -> DataFrame:
    """The audit log: every admitted-while-overlapping document with its
    strongest earlier match and containment."""
    return spark.read.parquet(os.path.join(base_dir, "flags"))
