"""Time-series regularization (north star): resample an event stream onto a
fixed grid and fill the gaps — the densification step before windowed
feature extraction, forecasting, or per-entity sequence modeling.

Scale design: resampling is one groupBy on (key, bucket) — the shuffle
carries pre-aggregated partials, never raw events; grid expansion is a
native ``sequence``/``explode`` per key (rows ∝ span/step, generated
executor-side, nothing quadratic); carry-forward fill is a running
``last(ignorenulls)`` window partitioned by key — one shuffle on the key,
state bounded per partition, no global ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resample(
    df: DataFrame,
    bucket_width: int,
    time_col: str,
    key_cols: list[str],
    aggs: dict[str, Column],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Aggregate onto a fixed grid: bucket = ``time_col`` div
    ``bucket_width`` (integer time units — the caller picks µs/ms/s), one
    row per (keys…, bucket) with the supplied aggregate expressions."""
    # true floor semantics for negative times too: Spark's `div` truncates
    # toward zero (-7 div 2 = -3, floor is -4), so align to the bucket start
    # with pmod (always non-negative) before dividing — the aligned value is
    # an exact multiple, making div ≡ floor. Matches engines whose integer
    # `//` floors (DuckDB, Python).
    bucket = F.expr(
        f"({time_col} - pmod({time_col}, {bucket_width})) div {bucket_width}"
    )
    return (
        df.withColumn(bucket_col, bucket)
        .groupBy(*key_cols, bucket_col)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )


def fill_gaps(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str = "bucket",
    zero_fill: dict[str, float | int] | None = None,
    carry_forward: list[str] | None = None,
) -> DataFrame:
    """Densify a resampled frame: for each key, generate every bucket from
    its min to its max (``sequence`` + ``explode``), left-join the observed
    rows back, fill ``zero_fill`` columns with their given constants, and
    add ``{col}_filled`` last-observation-carried-forward columns for
    ``carry_forward`` (running ``last(ignorenulls)`` per key in bucket
    order). Observed columns stay null in gap rows unless listed."""
    grid = (
        df.groupBy(*key_cols)
        .agg(
            F.min(bucket_col).alias("__b0"), F.max(bucket_col).alias("__b1")
        )
        .select(
            *key_cols,
            F.explode(F.sequence(F.col("__b0"), F.col("__b1"))).alias(
                bucket_col
            ),
        )
    )
    joined = grid.join(df, [*key_cols, bucket_col], "left")
    # carry-forward FIRST, over the observed (still-null-in-gaps) values —
    # zero-filling before the window would make LOCF carry the fill constant
    # instead of the last real observation
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for col in carry_forward or []:
        joined = joined.withColumn(
            f"{col}_filled", F.last(col, ignorenulls=True).over(w)
        )
    for col, const in (zero_fill or {}).items():
        joined = joined.withColumn(col, F.coalesce(col, F.lit(const)))
    return joined
