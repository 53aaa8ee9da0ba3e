"""Combine phase (SURVEY §3 E2): consolidate per-PSet tables into the final
normalized schema — the Spark re-expression of combine_all_pset_tables
(reference combine_pset_tables.py:27-48).

Flow: union per-PSet dims → dedupe → sort → dense surrogate ids (W1) →
FK-remap every dependent table from natural keys to ids via broadcast joins
(J3/J4) → experiment re-keyed on composite (dataset_id, experiment_id) →
dose_response/profile remapped against it, IC50 clamped (:173).

Scale design: dims are ≤1e5 rows (row_number global window is fine); fact
tables (dose_response at 1e8+) only ever flow through broadcast-hash joins —
zero fact-side shuffles across the whole phase. Unmatched-key audits are
returned as DataFrames, not logged-and-swallowed (SURVEY §5 invariants,
§7.3 item 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.operators.joins import clamp
from pharmacodi_spark.operators.keys import (
    remap_fk_cascade,
    rename_and_key,
    surrogate_key,
)
from pharmacodi_spark.operators.sets import union_all

IC50_CLAMP = 1e54  # combine_pset_tables.py:173


def combine_dim(per_pset: list[DataFrame], name_col: str = "name") -> DataFrame:
    """combine_primary_tables per-dim step (combine_pset_tables.py:51-89):
    union-all shards, dedupe, sort nulls-last (:66-67), assign id=1..n
    (:345-348)."""
    unioned = union_all(per_pset).dropDuplicates([name_col])
    return surrogate_key(unioned, order_by=[name_col])


def combine_experiment(
    experiment: DataFrame,
    cell_dim: DataFrame,
    compound_dim: DataFrame,
    tissue_dim: DataFrame,
    dataset_dim: DataFrame,
    dense_global: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """combine_experiment_tables part 1 (combine_pset_tables.py:147-168):
    remap experiment on its 4 FKs, then key it on the composite
    (dataset_id, experiment_id) for the fact remaps.

    ``dense_global=True`` switches the surrogate assignment to the
    fact-scale strategy (range-repartition + per-partition offsets, no
    global window — operators/keys.py) — use it when the experiment table
    itself is fact-sized (10⁷+ rows across hundreds of PSets); the ids are
    identical either way."""
    # keep the natural dataset name alongside the surrogate: downstream fact
    # tables (dose_response, profile) still carry natural keys and join on
    # the composite (dataset natural, experiment natural) —
    # combine_pset_tables.py:164-175
    experiment = experiment.withColumn("dataset_name", F.col("dataset_id"))
    remapped, audits = remap_fk_cascade(
        experiment,
        {
            "cell_id": keyed_or_self(cell_dim, "cell_id"),
            "compound_id": keyed_or_self(compound_dim, "compound_id"),
            "tissue_id": keyed_or_self(tissue_dim, "tissue_id"),
            "dataset_id": keyed_or_self(dataset_dim, "dataset_id"),
        },
    )
    remapped = surrogate_key(
        remapped, order_by=["dataset_id_id", "experiment_id"], dense_global=dense_global
    ).withColumnsRenamed(
        {f"{c}_id": c for c in ["cell_id", "compound_id", "tissue_id", "dataset_id"]}
    )
    return remapped, audits


def keyed_or_self(dim: DataFrame, fk: str) -> DataFrame:
    """Accept either a raw dim (id, name) or a pre-keyed (id, fk) frame."""
    if fk in dim.columns:
        return dim
    return rename_and_key(dim, fk)


def remap_fact_to_experiment(
    fact: DataFrame,
    experiment: DataFrame,
    clamp_ic50: bool = False,
    carry: list[str] | None = None,
) -> DataFrame:
    """combine_experiment_tables part 2 (combine_pset_tables.py:170-178):
    rewrite (dataset natural key, experiment natural key) on the fact to the
    experiment surrogate id via a composite-key broadcast join; clamp IC50
    for the profile table (:173); drop the natural keys.

    The experiment map is projected to 3 columns (+ ``carry``) before
    broadcast — at 1e8 fact rows this is the only operator touching every
    row and it is shuffle-free. ``carry`` names extra experiment columns
    (e.g. the remapped dim ids) to attach to the fact in the SAME broadcast
    join — denormalizing here costs a few broadcast bytes per row and saves
    a second pass over the fact later."""
    exp_map = experiment.select(
        F.col("id").alias("experiment_fk"),
        F.col("experiment_id"),
        F.col("dataset_name").alias("__ds_id"),
        *(carry or []),
    )
    if clamp_ic50:
        fact = clamp(fact, "IC50", upper=IC50_CLAMP)
    # drops are by column REFERENCE, not name: a carried experiment column
    # may legitimately be named dataset_id, and a name-based drop would
    # silently remove it along with the fact's natural key
    out = (
        fact.join(
            F.broadcast(exp_map),
            on=(fact.experiment_id == exp_map.experiment_id)
            & (fact.dataset_id == exp_map.__ds_id),
            how="inner",
        )
        .drop(exp_map.experiment_id)
        .drop(fact.experiment_id)
        .drop(fact.dataset_id)
        .drop("__ds_id")
        .withColumnRenamed("experiment_fk", "experiment_id")
    )
    return out
