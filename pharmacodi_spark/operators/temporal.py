"""Temporal / interval joins (engine extensions — SURVEY §2.3 note:
"Not present in reference: theta/range/as-of/interval joins"; these are the
operators a 100 TB event pipeline needs that Spark lacks as primitives,
built per the custom-operator policy as compositions of DataFrame ops).

Oracle-checked plan twins: plans/tabular_q.py::asof_join / range_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    order_col: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join: each left row picks up the most recent right row with
    ``right[order_col] <= left[order_col]`` per ``on`` group (exact ties:
    right row wins, i.e. is visible to a simultaneous left row).

    Physical plan — the *scalable* merge pattern, not a range self-join:
    union both inputs into one stream, ONE sort-shuffle partitioned by the
    join keys and ordered by (order_col, side), then carry the right side's
    values forward with ``last(..., ignorenulls=True)`` over a running
    window. Cost = a single exchange of |left|+|right| narrow rows — the
    same bound as kdb/QuestDB merge-based ASOF; no per-key loop, no
    O(|L|·|R|) candidate blowup, skew handled by AQE like any sort.

    Left-only payload columns survive; right values arrive as
    ``asof_{col}`` (null when no prior right row exists).
    """
    lpay = [c for c in left.columns if c not in on and c != order_col]
    l = left.select(
        *on,
        order_col,
        *lpay,
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in right_cols
        ],
        F.lit(True).alias("__left"),
    )
    r = right.select(
        *on,
        order_col,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay],
        *right_cols,
        F.lit(False).alias("__left"),
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(order_col), F.col("__left").cast("int"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "*",
        *[
            F.last(F.when(~F.col("__left"), F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return filled.where("__left").select(
        *on, order_col, *lpay, *[f"asof_{c}" for c in right_cols]
    )


def bucketed_range_join(
    df: DataFrame,
    intervals: DataFrame,
    value_col: str,
    bucket_width: float,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Range (interval) join: rows of ``df`` matched to intervals with
    ``lo <= value < hi``, via the bucketed-interval pattern.

    A naive theta join is a nested-loop over |df|·|intervals|. Instead:
    explode each interval into the fixed-width buckets it overlaps, tag each
    row with its bucket, EQUI-join on the bucket, then apply the residual
    range predicate. The exploded intervals broadcast, so ``df`` never
    shuffles — O(|df| + Σ buckets-per-interval) — the standard
    interval-join rewrite (Spark can't derive it; its range-join support is
    heuristic). Pick
    ``bucket_width`` near the median interval width so most intervals
    explode into ~1-2 buckets.
    """
    b = intervals.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width).cast("long"),
                F.floor(F.col(hi_col) / bucket_width).cast("long"),
            )
        ).alias("__ibucket"),
    )
    b = F.broadcast(b)
    e = df.withColumn(
        "__bucket", F.floor(F.col(value_col) / bucket_width).cast("long")
    )
    out = e.join(
        b,
        (e["__bucket"] == b["__ibucket"])
        & (e[value_col] >= b[lo_col])
        & (e[value_col] < b[hi_col]),
    )
    return out.drop("__bucket", "__ibucket")
