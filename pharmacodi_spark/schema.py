"""Declared table contracts + ``harmonize`` (SURVEY §1.3, §2.2 P10/P11).

The reference forces every built table to a declared contract with
``harmonize_df_columns`` (reference utilities.py:6-50): subset to declared
columns, pad missing columns with typed nulls, coerce dtypes — including a
float→nullable-Int64→str dance to survive pandas NA semantics
(utilities.py:40-44).

In Spark every column is natively nullable, so the whole contract collapses
into one projection: ``select(cast-or-typed-null per declared column)``.
Catalyst folds the casts into the scan's ReadSchema, so harmonize is free at
execution time — no extra pass over the data.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Mapping of the reference's declared dtype vocabulary (pandas/datatable
# strings seen in its column_dicts, e.g. build_primary_pset_tables.py:130-152)
# onto Spark types.
_DTYPE_ALIASES: dict[str, T.DataType] = {
    "str": T.StringType(),
    "string": T.StringType(),
    "object": T.StringType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "Int64": T.LongType(),  # pandas nullable int — Spark ints are nullable
    "long": T.LongType(),
    "float": T.DoubleType(),
    "float64": T.DoubleType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def to_spark_type(dtype: str | T.DataType) -> T.DataType:
    if isinstance(dtype, T.DataType):
        return dtype
    if dtype in _DTYPE_ALIASES:
        return _DTYPE_ALIASES[dtype]
    # fall back to DDL parsing ("decimal(18,2)", "array<string>", ...)
    return T.StructType.fromDDL(f"c {dtype}")[0].dataType


def harmonize(df: DataFrame, contract: Mapping[str, str | T.DataType] | T.StructType) -> DataFrame:
    """Force ``df`` to the declared column contract.

    Spark re-expression of the reference's ``harmonize_df_columns``
    (utilities.py:6-50): subset + reorder to declared columns, pad missing
    columns with typed nulls (utilities.py:30-35), cast present columns
    (utilities.py:37-49). Pure projection — one ``select``, no data pass.
    """
    if isinstance(contract, T.StructType):
        items: list[tuple[str, T.DataType]] = [(f.name, f.dataType) for f in contract.fields]
    else:
        items = [(name, to_spark_type(t)) for name, t in contract.items()]

    cols: list[Column] = []
    present = set(df.columns)
    for name, dtype in items:
        if name in present:
            cols.append(F.col(name).cast(dtype).alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*cols)


def col_q(name: str) -> Column:
    """Column reference tolerating the reference's dotted names
    (``.rownames``, ``.exp_id``, ``.features`` — e.g. read_pset.py slot
    tables): backtick-quote so Spark doesn't parse a struct path."""
    return F.col(f"`{name}`")
