"""Set operations (SURVEY §2.7 U1-U3)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """U1: rbind/concat of N tables by column name
    (combine_pset_tables.py:229-230; rbind(force=True) tolerates missing
    columns → ``allowMissingColumns``)."""
    if not dfs:
        raise ValueError("union_all of empty list")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def union_distinct(dfs: list[DataFrame]) -> DataFrame:
    """U2: union + dedup = set union (build_target_tables.py:73-75)."""
    return union_all(dfs).dropDuplicates()
