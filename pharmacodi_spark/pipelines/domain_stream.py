"""Streaming twin of the whole-domain quality gate (text/urls.py::
domain_quality_gate): a crawler ingests pages in micro-batches, and the
"this host MOSTLY fails the per-page gates → drop the whole domain"
verdict must accumulate across batches — a spam domain rarely delivers
its ≥ ``min_docs`` pages in one batch.

State discipline (the repo's per-batch-id convention, see
operators/profile.py::streaming_bucket_snapshots and winnow_stream):
each micro-batch writes its own ``batch_id=N`` partition of per-host
``(n, nf)`` counts via a writer-scoped dynamic partition overwrite — a
replayed batch (Structured Streaming re-delivers under the SAME id)
REWRITES its partition with identical content instead of appending a
duplicate, so the state is replay-idempotent by construction. State
size: #hosts rows per batch — domain-cardinality metadata regardless of
stream volume.

The gate itself is QUESTION-TIME: :func:`domain_gate_from_stats` folds
the stored per-batch histograms into cumulative host stats (optionally
``as_of_batch`` for a point-in-time view) and applies the same integer
cross-multiplied threshold as the batch operator — so stream ≡ batch is
an exact equality, tested in tests/test_domain_stream.py.

Reference scope note: part of the LLM-pipeline extension surface (the
reference has no streaming or web-corpus stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.io import write_batch_partition
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.urls import url_host

#: read schema — explicit so an index dir whose batches were all empty
#: still reads as an empty frame instead of failing inference
_STATS_SCHEMA = "host string, n bigint, nf bigint, batch_id bigint"


def host_stats_batch(
    batch: DataFrame,
    base_dir: str,
    batch_id: int,
    url_col: str = "url",
    fail_col: str = "failed",
) -> None:
    """One micro-batch of per-host gate-verdict counts into the state dir
    — also the ``foreachBatch`` body of :func:`streaming_host_quality`.
    One map-side-collapsing aggregation keyed by host; bodies never
    shuffle; the write is io.py::write_batch_partition."""
    stats = (
        batch.select(
            url_host(url_col).alias("host"),
            F.col(fail_col).cast("boolean").alias("__fail"),
        )
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("__fail").cast("long")).cast("long").alias("nf"),
        )
    )
    write_batch_partition(stats, f"{base_dir}/host_stats", batch_id)


def streaming_host_quality(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    url_col: str = "url",
    fail_col: str = "failed",
):
    """Maintain the per-batch host-stats state under ``base_dir`` from a
    stream of (url, per-page gate verdict) rows, drained by
    streaming/ops.py::drain_foreach_batch. Returns the started
    StreamingQuery."""

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        host_stats_batch(
            batch, base_dir, batch_id, url_col=url_col, fail_col=fail_col
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def read_host_stats(
    spark: SparkSession, base_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """Cumulative per-host ``(n, nf)`` folded from the stored per-batch
    partitions — optionally only batches ``<= as_of_batch`` (the
    point-in-time view a replayed downstream consumer needs)."""
    stats = spark.read.schema(_STATS_SCHEMA).parquet(
        f"{base_dir}/host_stats"
    )
    if as_of_batch is not None:
        stats = stats.where(F.col("batch_id") <= int(as_of_batch))
    return stats.groupBy("host").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("nf").cast("long").alias("nf"),
    )


def domain_gate_from_stats(
    spark: SparkSession,
    base_dir: str,
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    min_docs: int = 5,
    max_fail_ppm: int = 400_000,
    as_of_batch: int | None = None,
) -> DataFrame:
    """Question-time whole-domain gate against the ACCUMULATED stream
    state: same integer cross-multiplied threshold, same output contract
    as text/urls.py::domain_quality_gate — ``(id, host, host_fail_ppm,
    keep)`` — so stream-fed state gates exactly like the batch operator
    given the same pages. The offender table (blocked hosts only)
    broadcasts back against the scan; no corpus-scale join."""
    stats = read_host_stats(spark, base_dir, as_of_batch=as_of_batch)
    blocked = stats.where(
        (F.col("n") >= int(min_docs))
        & (F.col("nf") * 1_000_000 >= int(max_fail_ppm) * F.col("n"))
    ).select(
        "host",
        F.expr("(nf * 1000000) div n").cast("long").alias("host_fail_ppm"),
    )
    hosts = docs.select(F.col(id_col), url_host(url_col).alias("host"))
    return hosts.join(F.broadcast(blocked), "host", "left").select(
        id_col,
        "host",
        "host_fail_ppm",
        F.col("host_fail_ppm").isNull().alias("keep"),
    )
