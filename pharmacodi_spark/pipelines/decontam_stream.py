"""Streaming twin of MinHash benchmark decontamination
(text/cleaning.py::fuzzy_decontaminate): a crawler must gate ARRIVING
training documents against the held-out benchmarks continuously, not in a
one-shot batch pass.

The state is a FROZEN sidecar (the selection_stream frozen-λ pattern):
the eval-side MinHash signatures are computed ONCE from the benchmark
suite and persisted; every micro-batch signatures only its own documents
and broadcast-joins the frozen eval band cells. Because a per-document
verdict depends only on that document and the frozen sidecar — never on
other stream documents — the streamed verdicts are ROW-IDENTICAL to the
one-shot batch operator over the same corpus (tested), and replays are
idempotent by the per-batch-id dynamic-overwrite discipline.

Re-freezing (a new benchmark added to the suite) is a sidecar rewrite +
replay of the affected window — the same operational story as the DSIR
λ sidecar.

Scale shape per batch: one signature aggregation over the batch (bodies
never shuffle), frozen eval cells broadcast (benchmarks are tiny next to
any crawl), estimator joins signatures for candidates only. Verdict rows
are (id, matched_eval_id, est_ppm, keep) metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pharmacodi_spark.io import write_batch_partition
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.cleaning import fuzzy_decontaminate


def _sig_path(base_dir: str) -> str:
    return f"{base_dir}/eval_signatures"


def freeze_eval_signatures(
    eval_df: DataFrame,
    base_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Compute the benchmark-side signatures (16 hashes over 5-shingles)
    once and persist the frozen sidecar (id + h0..h15; benchmark-suite-sized
    — KBs, not corpus)."""
    from pharmacodi_spark.text.dedup import minhash_signatures

    minhash_signatures(eval_df, content_col, id_col).write.mode(
        "overwrite"
    ).parquet(_sig_path(base_dir))


def decontam_stream_batch(
    spark: SparkSession,
    base_dir: str,
    batch: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_ppm: int = 500_000,
    sig_fn=None,
    batch_id: int = 0,
) -> None:
    """One micro-batch of train docs gated against the frozen sidecar —
    also the ``foreachBatch`` body of :func:`streaming_fuzzy_decontam`.
    Verdicts land under ``verdicts/batch_id=N`` via a writer-scoped
    dynamic partition overwrite (io.py::write_batch_partition — replay
    rewrites identical content)."""
    frozen = spark.read.parquet(_sig_path(base_dir))
    out = fuzzy_decontaminate(
        batch,
        eval_df=None,
        content_col=content_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_len=shingle_len,
        min_est_ppm=min_est_ppm,
        sig_fn=sig_fn,
        eval_signatures=frozen,
    )
    write_batch_partition(out, f"{base_dir}/verdicts", batch_id)


def streaming_fuzzy_decontam(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Gate a document stream against the frozen benchmark sidecar
    (drained by streaming/ops.py::drain_foreach_batch). Returns the started
    StreamingQuery."""

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        decontam_stream_batch(
            batch.sparkSession, base_dir, batch, batch_id=batch_id, **kwargs
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def read_decontam_verdicts(spark: SparkSession, base_dir: str) -> DataFrame:
    """All streamed verdicts: (id, matched_eval_id, est_ppm, keep,
    batch_id)."""
    return spark.read.parquet(f"{base_dir}/verdicts")
