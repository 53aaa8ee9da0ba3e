"""Reshape operators: melt / explode / flatten / pivot (SURVEY §2.8).

R1: the reference melts wide dose/response matrices
(build_experiment_tables.py:104-121) with a rename-dict built from the ROW
count — a latent bug when rows < columns (SURVEY §7.3 item 5). Our melt keys
off actual column names via regex, an intentional semantic fix.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt_wide(
    df: DataFrame,
    id_vars: list[str],
    value_prefix: str,
    var_name: str = "var_id",
    value_name: str = "value",
) -> DataFrame:
    """R1: wide→long for columns named ``{prefix}{N}`` (dose1..doseN).

    Uses ``stack`` inside a single projection — no shuffle, fully codegen'd;
    the ordinal ``N`` is parsed from the column name, and null cells are
    dropped as the reference does (build_experiment_tables.py:116-121).
    """
    pat = re.compile(rf"^{re.escape(value_prefix)}(\d+)$")
    matches = [(c, int(pat.match(c).group(1))) for c in df.columns if pat.match(c)]
    if not matches:
        raise ValueError(f"no columns matching {value_prefix}N in {df.columns}")
    matches.sort(key=lambda t: t[1])
    pairs = ", ".join(f"{n}, `{c}`" for c, n in matches)
    stacked = df.select(
        *[F.col(f"`{c}`") for c in id_vars],
        F.expr(f"stack({len(matches)}, {pairs}) as ({var_name}, {value_name})"),
    )
    return stacked.where(F.col(value_name).isNotNull())


def melt_columns(
    df: DataFrame,
    id_vars: list[str],
    value_vars: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """R2: generic melt over an explicit column list (synonym sheets melt
    regex-selected ``*.cellid`` columns, build_synonym_tables.py:45-63).
    Spark ≥3.4 ``unpivot`` — same single-projection physical shape."""
    return df.unpivot(
        [F.col(f"`{c}`") for c in id_vars],
        [F.col(f"`{c}`") for c in value_vars],
        var_name,
        value_name,
    )


def explode_list(df: DataFrame, col: str, out_col: str | None = None, split_on: str | None = None) -> DataFrame:
    """R3: explode an array column; with ``split_on``, split a delimited
    string first (``Drug IDs`` split on '; ' then exploded,
    get_chembl_targets.py:23-27, get_target_annotations.py:31-33)."""
    out_col = out_col or col
    c = F.split(F.col(col), split_on) if split_on is not None else F.col(col)
    return df.withColumn(out_col, F.explode(c))


def flatten_struct(df: DataFrame, col: str) -> DataFrame:
    """R4: flatten a struct column into top-level columns
    (``pd.json_normalize`` merge-back, get_chembl_targets.py:32-38)."""
    others = [c for c in df.columns if c != col]
    return df.select(*others, f"{col}.*")


def group_concat_pivot(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    value_col: str,
) -> DataFrame:
    """R6/A7: rows of (entry, code, value) → one wide row per entry with
    values ``|||``-concatenated per code — the Cellosaurus record assembly
    (build_cellosaurus.py:26-30,53-63).

    ``collect_list`` order is nondeterministic under parallelism, so values
    are sorted before joining — deterministic output at any partition count.
    """
    agg = F.array_join(F.array_sort(F.collect_list(value_col)), "|||")
    return df.groupBy(group_col).pivot(pivot_col).agg(agg)
