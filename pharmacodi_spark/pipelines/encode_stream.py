"""Streaming twin of embedding generation: encode documents as they arrive.

The batch seam (text/embeddings.py::encode_documents) is a pointwise
Arrow ``mapInPandas`` stage, so its streaming twin is the simplest of the
repo's stream/batch pairs — no frozen sidecar to prepare (the encoder IS
the frozen state: a model checkpoint in production, the deterministic
stand-in here), no corpus-global stage to defer. Production shape: the
"embedding backfill at ingest" loop every vector pipeline runs — new
documents land, encode once, upsert into the embedding store the
ANN/semantic-dedup family (text/similarity.py, pipelines/ann_stream.py)
reads.

- **stream** (``foreachBatch``): encode each micro-batch with the SAME
  ``encode_documents`` call the batch path uses (one Python stage, zero
  shuffle) and MERGE into ``base_dir/embeddings`` keyed by id —
  idempotent under micro-batch replay (a replayed batch rewrites
  identical rows, because the encoder is deterministic given its frozen
  weights).

Equivalence contract (tests/test_encode_stream.py): encoding is pointwise,
so the final embeddings table is ROW-IDENTICAL to one batch
``encode_documents`` over the concatenated corpus for ANY arrival order —
the same any-order guarantee as the DSIR scoring stream, stronger than the
prefix-ordered curation contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from pharmacodi_spark.io import merge_upsert
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.embeddings import encode_documents


def streaming_encode(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
    content_col: str = "text",
    id_col: str = "doc_id",
):
    """Encode an incoming document stream into the embedding store
    (drained by streaming/ops.py::drain_foreach_batch). Returns the started
    StreamingQuery."""

    def do_batch(batch: DataFrame, _batch_id: int) -> None:
        vecs = encode_documents(
            batch, dim=dim, content_col=content_col, id_col=id_col
        )
        path = os.path.join(base_dir, "embeddings")
        merge_upsert(batch.sparkSession, path, vecs, key_cols=[id_col])

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)
