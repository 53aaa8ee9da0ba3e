"""Dedup / distinct operators (SURVEY §2.4 A1/A2/A4).

The reference's idioms: ``drop_duplicates()``, the datatable
``df[0, :, by(keys)]`` first-per-group (combine_pset_tables.py:231-234,
266-270), and per-column ``pd.unique`` for dims
(build_primary_pset_tables.py:60-94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A1: full-row (or subset-keyed) distinct. Spark's hash-aggregate dedup
    is map-side partial first, so at scale only one row per key reaches the
    shuffle."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def first_per_group(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """A2: deterministic first-row-per-group.

    The reference's ``df[0, :, :, by(keys)]`` (combine_pset_tables.py:266-270)
    keeps whatever row happens to be first in file order — nondeterministic
    under parallel reads. We require an explicit ``order_by`` tiebreak:
    ``row_number() == 1`` over (keys, order). AQE handles skewed keys."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc_nulls_last(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_dim(df: DataFrame, col: str) -> DataFrame:
    """A4: unique values of one column as a 1-column dim table
    (``pd.unique``, build_primary_pset_tables.py:60-67). Column pruning
    pushes the single-column projection into the scan."""
    return df.select(F.col(col).alias("name")).where(F.col("name").isNotNull()).distinct()
