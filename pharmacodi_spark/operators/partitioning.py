"""Scan-spread guard: parallelize CPU-heavy per-row transforms that sit
directly on a small-file scan (guide §2.5 input skew).

A parquet file under ``spark.sql.files.maxPartitionBytes`` arrives as ONE
scan task, so an expensive projection placed on the scan (per-gram md5,
shingle hashing, token scoring) serializes on one core no matter how many
the session has. At corpus scale the scan already has >= defaultParallelism
splits and the guard no-ops — no payload shuffle is added where it would
cost (the r12 incremental_winnow root cause, and the measured rationale in
dedup.repeated_spans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_small_scan(df: DataFrame, key: "Column | str | None" = None) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` ONLY when it currently
    has fewer partitions (a small-file scan); no-op otherwise.

    ``key``: hash-partition by this column (use the doc id when downstream
    work is keyed by it — the exchange then doubles as that partitioning);
    ``None`` round-robins, which is safe whenever downstream results do not
    depend on row placement (every aggregation/join keyed by content).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    if key is None:
        return df.repartition(par)
    return df.repartition(par, F.col(key) if isinstance(key, str) else key)


def pin_pair_parallelism(df: DataFrame, keys: list) -> DataFrame:
    """Pin the parallelism of a pair-expansion exchange (guide §2.5).

    AQE's partition coalescing sizes post-shuffle partitions by BYTES
    (``minPartitionSize``, 1 MB) — correct for byte-bound stages, wrong for
    the cell/bucket pair expansions: their input rows are a few id+hash
    bytes while the downstream work is QUADRATIC in rows per cell (the
    within-cell dot products / pair structs). Measured at sf0.1: the whole
    semantic-dedup cosine pair stage (~125k pair dots) coalesced onto ONE
    task — a 3.3 s straggler on a 32-core box (text_semantic_dedup's
    single biggest stage).

    The fix: hash-repartition by the expansion's own grouping/join keys to
    ``defaultParallelism`` BEFORE the groupBy/self-join. The user exchange
    (REPARTITION_BY_NUM) is not AQE-coalescible, replaces 1:1 the
    ENSURE_REQUIREMENTS exchange the groupBy/join would have inserted (the
    downstream op's distribution requirement is satisfied — same keys), and
    is scale-adaptive (defaultParallelism = total executor cores on a
    cluster). Pinning also forgoes AQE's skew-split on this exchange —
    safe exactly because every caller keys by the triangle-block
    coordinates, whose per-key row mass the hot-cell guard already bounds
    to <= 2*max_cell_size.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        par, *[F.col(k) if isinstance(k, str) else k for k in keys]
    )


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a narrow DataFrame by ``keys`` to the session's
    default parallelism, for use right before CPU-dense per-row work
    (shingle explode + md5, simhash bit sums).

    Why: the fixture tables are single-row-group parquet files, so the scan
    is ONE task and everything fused into it (explode, hashing, partial agg)
    runs serially. Shuffling the narrow pre-explode rows (ids + text, no
    derived data yet) costs ~MBs and buys full-width parallelism. On a real
    cluster the scan already has thousands of splits, and partitioning by
    the downstream aggregation key still pays: the groupBy reuses this
    exchange (hashpartitioning(keys) satisfies the agg distribution) instead
    of shuffling the much wider exploded rows. Unlike
    :func:`spread_small_scan` it repartitions unconditionally."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])
