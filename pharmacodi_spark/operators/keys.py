"""Surrogate keys + foreign-key remapping (SURVEY §2.3 J3-J6, §2.5 W1/W2).

These are the workhorses of the reference's combine phase: assign dense
``id = 1..n`` after a sort (combine_pset_tables.py:345-348), then rewrite
every fact table's natural keys to those ids via keyed joins
(combine_pset_tables.py:296-330).
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def surrogate_key(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "id",
    dense_global: bool = False,
) -> DataFrame:
    """Assign a deterministic dense ``id = 1..n`` ranked by ``order_by``.

    Reference semantics: sort then ``update(id=np.arange(n)+1)``
    (combine_pset_tables.py:345-348; build_meta_tables.py:105-107 shows ids
    are rank-in-sort-order). Two physical strategies (SURVEY §7.3 item 1):

    - dims (≤10⁵ rows): ``row_number()`` over a global window — exact parity,
      single-task shuffle is fine at dim scale.
    - facts (set ``dense_global=True`` for 10⁸+-row tables): range-repartition
      on the sort key (partition i's keys all precede partition i+1's), sort
      within partitions, read each row's local position from
      ``monotonically_increasing_id``'s low 33 bits (consecutive within a
      partition, partition id in the high bits — no window over the fact),
      then add per-partition offsets from an N-row count table joined back by
      broadcast. Every stage is parallel and JVM-side (the old alternative,
      RDD ``zipWithIndex``, round-trips every row through Python in PySpark);
      the only serial step is the N-row offset cumsum. Deterministic given a
      total order (callers must pass a tie-broken ``order_by``).
    """
    if not dense_global:
        w = Window.orderBy(*[F.asc_nulls_last(c) for c in order_by])
        return df.withColumn(id_col, F.row_number().over(w))

    from pharmacodi_spark.barrier import stage_barrier

    cols = [F.asc_nulls_last(c) for c in order_by]
    n = df.sparkSession.sparkContext.defaultParallelism
    # The barrier is REQUIRED for correctness, not an optimization: the
    # tagged frame is consumed twice (offset counts + final join), and
    # repartitionByRange samples its boundaries per physical evaluation —
    # if the exchange is not reused (e.g. under a composed plan AQE
    # re-plans), two evaluations see different boundaries and the
    # mid-derived ids collide. Freezing one materialized instance makes the
    # (partition, ordinal) assignment single-valued. Under
    # ``spark.pharmacodi.barrierDir`` (pharmacodi_spark.barrier) the pin
    # survives executor loss on preemptible clusters.
    tagged = stage_barrier(
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .select("*", F.monotonically_increasing_id().alias("__mid")),
        name="surrogate-key-tagged",
    )
    pid = F.shiftrightunsigned("__mid", 33)
    counts = tagged.groupBy(pid.alias("__pid")).agg(F.count("*").alias("__cnt"))
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__off")
    )
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    return (
        tagged.withColumn("__pid", pid)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__off") + local + 1).cast("long"))
        .drop("__pid", "__off", "__mid")
    )


def rename_and_key(dim: DataFrame, fk_name: str, id_col: str = "id", name_col: str = "name") -> DataFrame:
    """Project a dim to ``(id, {fk_name})`` ready for FK remapping — the
    reference's ``rename_and_key`` (combine_pset_tables.py:275-292). The
    datatable ``.key=`` (hash index) is unnecessary: Spark broadcasts the dim
    and hash-joins it automatically."""
    return dim.select(F.col(id_col), F.col(name_col).alias(fk_name))


def remap_fk(
    df: DataFrame,
    dim: DataFrame,
    fk: str,
    id_col: str = "id",
    on_miss: Literal["drop", "keep", "error"] = "drop",
) -> tuple[DataFrame, DataFrame]:
    """Rewrite natural key ``fk`` to the dim's surrogate id (J3/J4).

    Re-expresses ``join_tables`` (combine_pset_tables.py:296-330): left-join
    the keyed dim, collect distinct unmatched keys for audit (:318-322),
    optionally delete unmatched rows (:323-326 — ``delete_unjoined``), then
    rename ``id``→``{fk}_id`` and drop the natural key (:328-330).

    Returns ``(remapped, unmatched_keys)`` — the audit table replaces the
    reference's log-and-swallow (SURVEY §5 invariants; we surface, not log).

    Scale notes:
    - dims are deduped first because datatable's keyed join is
      last-key-wins while Spark's left join would duplicate fact rows
      on dup dim keys (SURVEY §7.3 item 3) — a semantic AND row-count hazard;
    - the dim side is broadcast: the 10⁸-row fact never shuffles.
    """
    keyed = dim.select(F.col(id_col).alias("__remap_id"), F.col(fk))
    keyed = keyed.dropDuplicates([fk])

    joined = df.join(F.broadcast(keyed), on=fk, how="left")
    unmatched = (
        joined.where(F.col("__remap_id").isNull()).select(fk).distinct()
    )
    if on_miss == "error":
        bad = unmatched.limit(20).collect()
        if bad:
            raise ValueError(f"remap_fk({fk}): unmatched keys e.g. {[r[0] for r in bad]}")
        matched = joined
    elif on_miss == "drop":
        matched = joined.where(F.col("__remap_id").isNotNull())
    else:
        matched = joined
    out = matched.withColumnRenamed("__remap_id", f"{fk}_id").drop(fk)
    return out, unmatched


def remap_fk_cascade(
    df: DataFrame,
    dims: dict[str, DataFrame],
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """FK-remap loop over declared FKs — the reference's ``load_join_write``
    inner loop (combine_pset_tables.py:200-210); unmatched fact rows are
    dropped. All dims broadcast; the fact table flows through N
    broadcast-hash joins in a single stage with no shuffle."""
    audits: dict[str, DataFrame] = {}
    for fk, dim in dims.items():
        df, audits[fk] = remap_fk(df, dim, fk)
    return df, audits
