"""Streaming embedding-drift monitor: watch an incoming embedding stream
against a FROZEN reference snapshot and accumulate the drift evidence a
pipeline alarms on before trusting cross-snapshot ANN / semantic dedup.

Production shape mirrors the repo's other streaming twins
(selection_stream's frozen λ, ann_stream's frozen quantizer): the
reference statistics — per-dim mean µ_ref and the dominant direction v
from ``text/similarity.py::top_component_projection`` — are trained ONCE
on a corpus snapshot and persisted as a dim-row sidecar; each micro-batch
is reduced POINTWISE against them:

- **prepare** (batch, once per re-index): run the integer power
  iteration on the reference snapshot, persist ``(pos, mu, v)`` under
  ``base_dir/reference`` — dim rows of three longs, pure index metadata;
- **stream** (``foreachBatch``): the sidecar loads once at stream
  definition (bounded collect, the ANN-centroid budget class); each
  micro-batch computes ADDITIVE integer sufficient statistics against
  the frozen reference — row count, per-row projection sums onto v
  (``Σ proj_q``, ``Σ |proj_q|``, centered on µ_ref), and the per-dim
  coordinate sums (as one squared-deviation rollup ``Σ_p (S_p − n·µ_p)²``
  is NOT additive, the per-batch row stores n and the projection sums,
  plus the batch's own exact mean-shift term for alerting) — and writes
  its own ``batch_id=N`` partition via a writer-scoped dynamic partition
  overwrite: a replayed batch REWRITES identical content instead of
  appending a duplicate (replay-idempotent by construction).

Equivalence contract (tests/test_drift_stream.py): the projection
statistics are pointwise-additive, so summing ``n / sum_proj_q /
sum_abs_proj_q`` over the stored batch rows is ROW-IDENTICAL to the same
reduction over the concatenated corpus in one batch — for ANY arrival
order or batching, the strong (selection_stream-class) guarantee. The
per-batch ``mean_shift2`` column is batch-local by design (it is the
alert, not the aggregate) and is exactly reproducible from that batch's
rows.

Scale shape (100 TB): per batch, ONE scan with a zero-shuffle literal
fold (µ_ref and v ride as array literals) collapsing to a 1-row
aggregate + a dim-row per-dim sum; state grows by one metadata row (+
dim sum rows) per batch regardless of stream volume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.io import write_batch_partition
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.similarity import (
    PROJ_SCALE_BITS,
    _trunc_div,
    top_component_projection,
)


def prepare_drift_reference(
    spark: SparkSession,
    base_dir: str,
    ref_vecs: DataFrame,
    vec_col: str = "qe",
    id_col: str = "vec_id",
) -> tuple[list[int], list[int]]:
    """Run the integer power iteration on the reference snapshot and
    persist ``(pos, mu, v)`` as the frozen sidecar. Returns (mu, v)."""
    _proj, v, mu = top_component_projection(
        ref_vecs, vec_col=vec_col, id_col=id_col
    )
    local_df(
        spark,
        [(p, int(m), int(x)) for p, (m, x) in enumerate(zip(mu, v))],
        ["pos", "mu", "v"],
        types=["int", "long", "long"],
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base_dir, "reference")
    )
    return mu, v


def load_drift_reference(
    spark: SparkSession, base_dir: str
) -> tuple[list[int], list[int]]:
    """Read the frozen sidecar back into the literal-array form the
    zero-shuffle batch reduction consumes (bounded collect: dim rows)."""
    rows = spark.read.parquet(os.path.join(base_dir, "reference")).collect()
    dim = len(rows)
    mu, v = [0] * dim, [0] * dim
    for r in rows:
        mu[r["pos"]] = int(r["mu"])
        v[r["pos"]] = int(r["v"])
    return mu, v


def batch_drift_stats(
    df: DataFrame,
    mu: list[int],
    v: list[int],
    vec_col: str = "qe",
) -> DataFrame:
    """The pointwise-additive reduction both the stream and its batch twin
    run: 1 row of ``(n, sum_proj_q, sum_abs_proj_q)`` — each row's
    projection onto the frozen component, centered on the frozen mean,
    truncated by ``div 2^PROJ_SCALE_BITS`` exactly like
    top_component_projection's output units."""
    from pharmacodi_spark.functions.scalar import int_array_lit

    scale = 1 << PROJ_SCALE_BITS
    # single-node literals (r12, guide §1.2 — see int_array_lit)
    mu_arr = int_array_lit(mu)
    v_arr = int_array_lit(v)
    c = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("long")),
        mu_arr,
        lambda x, m: x - m,
    )
    dot = F.aggregate(
        F.zip_with(c, v_arr, lambda cc, vv: cc * vv),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    proj = df.withColumn("__d", dot).select(
        F.expr(f"__d div {scale}").alias("proj_q")
    )
    return proj.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("proj_q"), F.lit(0)).cast("long").alias("sum_proj_q"),
        F.coalesce(F.sum(F.abs(F.col("proj_q"))), F.lit(0))
        .cast("long")
        .alias("sum_abs_proj_q"),
    )


def batch_mean_shift2(
    df: DataFrame, mu: list[int], vec_col: str = "qe"
) -> int:
    """Exact integer ``Σ_p (µ_batch,p − µ_ref,p)²`` for one batch — the
    alert term. Per-dim sums aggregate distributed (dim rows), the
    truncating mean and the squared shift finish driver-side."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x").cast("long")).alias("s"), F.count("*").alias("n"))
        .collect()
    )
    shift2 = 0
    for r in rows:
        mb = _trunc_div(int(r["s"]), int(r["n"]))
        d = mb - mu[int(r["pos"])]
        shift2 += d * d
    return shift2


def streaming_embedding_drift(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    vec_col: str = "qe",
):
    """Reduce an incoming embedding stream against the frozen reference
    sidecar (drained by streaming/ops.py::drain_foreach_batch). Each batch
    appends ONE row ``(batch_id, n, sum_proj_q, sum_abs_proj_q,
    mean_shift2)`` via io.py::write_batch_partition (replay-idempotent).
    Returns the started StreamingQuery."""
    mu, v = load_drift_reference(stream.sparkSession, base_dir)

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        stats = batch_drift_stats(batch, mu, v, vec_col=vec_col)
        shift2 = batch_mean_shift2(batch, mu, vec_col=vec_col)
        write_batch_partition(
            stats.withColumn("mean_shift2", F.lit(int(shift2)).cast("long")),
            os.path.join(base_dir, "drift"),
            batch_id,
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def read_drift_series(spark: SparkSession, base_dir: str) -> DataFrame:
    """The stored per-batch drift rows."""
    return spark.read.parquet(os.path.join(base_dir, "drift"))
