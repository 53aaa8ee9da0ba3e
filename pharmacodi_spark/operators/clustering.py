"""Multi-dimensional clustering for writer-side data layout (north star:
"Z-order-ish multi-dim clustering via range partition on interleaved keys").

Why: partition pruning handles ONE dimension (the partition column); queries
that filter on two or more dimensions (cell_id AND compound_id, lat AND
lon) still scan every file unless rows with nearby values in *all* those
dimensions are physically co-located. Interleaving the bits of the
dimensions' scaled ranks gives a Morton (Z-order) key; range-partitioning +
sorting on that key clusters files into hyper-rectangles, so parquet
min/max row-group statistics prune on every clustered dimension at once.

All expression-level: the scale factors come from one metadata-scale agg
action; the bit interleave is a chain of shift/or terms, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(
    df: DataFrame,
    cols: list[str],
    out_col: str = "__morton",
) -> DataFrame:
    """Add an interleaved-bit (Morton / Z-order) key over numeric ``cols``.

    Each column is min-max scaled to a 16-bit integer rank (bounds from one
    driver-side agg — index metadata, like any clustering's zone map), then
    bit j of dimension i lands at position ``j*len(cols)+i`` of the key.
    ``16 * len(cols)`` must stay < 63."""
    bits = 16
    assert bits * len(cols) < 63, "interleaved key must fit a signed long"
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__max_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1

    def scaled(c: str) -> Column:
        lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
        if hi is None or lo is None or hi == lo:
            return F.lit(0).cast("long")
        frac = (F.col(c).cast("double") - F.lit(lo)) / F.lit(hi - lo)
        return F.least(
            F.lit(top).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.floor(frac * top).cast("long")),
        )

    key: Column = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        s = scaled(c)
        for j in range(bits):
            bit = F.shiftright(s, j).bitwiseAND(F.lit(1).cast("long"))
            key = key.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    return df.withColumn(out_col, key)


def zorder_repartition(
    df: DataFrame,
    cols: list[str],
    n_partitions: int,
) -> DataFrame:
    """Range-partition + sort by the Morton key: each output partition (→
    output file on write) covers a compact hyper-rectangle of the clustered
    dimensions, so parquet min/max stats prune reads that filter on ANY of
    them. Drop-in before ``.write.parquet``; the helper column is removed."""
    keyed = morton_key(df, cols)
    return (
        keyed.repartitionByRange(n_partitions, F.col("__morton"))
        .sortWithinPartitions("__morton")
        .drop("__morton")
    )
