"""Streaming twin of DSIR data selection: score documents as they arrive.

Production shape mirrors the curation stream (pipelines/curation_stream.py):
the importance model is a FROZEN sidecar — λ is trained ONCE on a reference
corpus snapshot (you don't refit the target/raw ratio per micro-batch; the
DSIR paper fits on a fixed raw sample too) — and each micro-batch scores
pointwise against it:

- **prepare** (batch, once per refresh): fit λ with
  ``text/selection.py::dsir_train_weights`` on the reference corpus and
  persist the ``(bucket, lam)`` table under ``base_dir/weights`` — ``dim``
  rows of two ints, pure index metadata;
- **stream** (``foreachBatch``): load λ once at stream definition (bounded
  collect, same budget class as ANN centroids), score each micro-batch with
  the ZERO-shuffle literal-fold ``dsir_score``, and MERGE the scores into
  ``base_dir/scores`` keyed by id — idempotent under micro-batch replay
  (a replayed batch rewrites identical rows).

The SELECTION step (global top-k / percentile) is deliberately absent from
the stream: like the temperature-mixture stage of the curation stream, the
threshold is a corpus-global quantity — production re-ranks the scored
store per training run (``dsir_score`` output is exactly what
``percentile_gate`` / ``orderBy().limit(k)`` consume).

Equivalence contract (tests/test_selection_stream.py): because scoring is
pointwise given frozen λ, the final ``scores`` table is ROW-IDENTICAL to
:func:`batch_dsir_scores` over the concatenated corpus — for ANY batch
arrival order, a strictly stronger guarantee than the prefix-ordered
curation contract.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.io import merge_upsert
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.selection import dsir_score, dsir_train_weights


def prepare_selection_state(
    spark: SparkSession,
    base_dir: str,
    ref_docs: DataFrame,
    target: Column,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
) -> None:
    """Fit λ on the reference corpus and persist it as the frozen sidecar."""
    lam = dsir_train_weights(
        ref_docs, target, dim=dim, salt=salt, content_col=content_col
    )
    local_df(
        spark, list(enumerate(lam)), ["bucket", "lam"], types=["int", "long"]
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base_dir, "weights")
    )


def load_selection_weights(
    spark: SparkSession, base_dir: str, dim: int
) -> list[int]:
    """Read the frozen λ sidecar back into the literal-array form the
    zero-shuffle scorer consumes (bounded collect: ``dim`` rows)."""
    rows = spark.read.parquet(os.path.join(base_dir, "weights")).collect()
    assert len(rows) == dim, f"sidecar has {len(rows)} buckets, expected {dim}"
    lam = [0] * dim
    for r in rows:
        lam[r["bucket"]] = r["lam"]
    return lam


def streaming_dsir_scores(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
    id_col: str = "doc_id",
):
    """Score an incoming document stream against the frozen λ sidecar
    (drained by streaming/ops.py::drain_foreach_batch). Returns the started
    StreamingQuery."""
    lam = load_selection_weights(stream.sparkSession, base_dir, dim)

    def do_batch(batch: DataFrame, _batch_id: int) -> None:
        scored = dsir_score(
            batch, lam, dim=dim, salt=salt, content_col=content_col,
            id_col=id_col,
        )
        path = os.path.join(base_dir, "scores")
        merge_upsert(batch.sparkSession, path, scored, key_cols=[id_col])

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def batch_dsir_scores(
    spark: SparkSession,
    base_dir: str,
    docs: DataFrame,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The batch twin: score the whole corpus in one pass against the same
    frozen sidecar the stream uses."""
    lam = load_selection_weights(spark, base_dir, dim)
    return dsir_score(
        docs, lam, dim=dim, salt=salt, content_col=content_col, id_col=id_col
    )
