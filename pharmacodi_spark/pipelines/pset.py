"""Per-PSet phase (SURVEY §3 E1): build the per-dataset tables from a PSet
catalog — the Spark re-expression of build_all_pset_tables
(reference build_all_pset_tables.py:30-78) and its callees.

A "catalog" is ``dict[str, DataFrame]`` keyed by slot path
(``"cell"``, ``"drug"``, ``"sensitivity$info"``, ``"sensitivity$raw.Dose"``,
``"sensitivity$raw.Viability"``, ``"sensitivity$profiles"``,
``"molecularProfiles$<mDataType>$rowData"`` / ``...$colData``) — produced by
``io.read_pset_catalog`` or assembled directly in tests (FIXTURES.md §A).

Everything is a pure lazy transform; nothing materializes until the caller
writes. Dims are tiny (≤1e5) — facts (dose_response at 1e8+ scale) only ever
flow through projections, melts and broadcast joins: no fact-side shuffle in
the whole phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import strip_version_suffix
from pharmacodi_spark.operators.reshape import melt_wide
from pharmacodi_spark.schema import col_q, harmonize


def build_dataset_df(spark, pset_name: str) -> DataFrame:
    """1-row dataset dim (build_primary_pset_tables.py:30-37)."""
    from pharmacodi_spark.functions.scalar import local_df

    return local_df(spark, [(pset_name,)], ["name"])


def build_tissue_df(cell: DataFrame) -> DataFrame:
    """Unique sorted tissue names (build_primary_pset_tables.py:71-83)."""
    return (
        cell.select(F.col("tissueid").alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )


def build_cell_df(cell: DataFrame) -> DataFrame:
    """Cell dim with tissue natural-FK (build_primary_pset_tables.py:157-167)."""
    return harmonize(
        cell.select(
            F.col("cellid").alias("name"), F.col("tissueid").alias("tissue_id")
        ).dropDuplicates(["name"]),
        {"name": "string", "tissue_id": "string"},
    )


def build_compound_df(drug: DataFrame) -> DataFrame:
    """Compound dim (build_primary_pset_tables.py:87-95,130-152): rename
    rownames→compound_id, cid→pubchem, FDA→fda_status; harmonize pads any
    missing annotation columns with typed nulls (utilities.py:30-35)."""
    renames = {
        "rownames": "compound_id",
        "drugid": "name",
        "cid": "pubchem",
        "FDA": "fda_status",
    }
    out = drug
    for old, new in renames.items():
        if old in out.columns:
            out = out.withColumnRenamed(old, new)
    return harmonize(
        out.dropDuplicates(["name"]),
        {
            "compound_id": "string",
            "name": "string",
            "smiles": "string",
            "inchikey": "string",
            "pubchem": "string",
            "fda_status": "boolean",
        },
    )


def build_gene_df(row_data: list[DataFrame]) -> DataFrame:
    """Gene dim from molecularProfiles rowData across mDataTypes: union,
    strip Ensembl version suffix, dedupe
    (build_primary_pset_tables.py:53-67, version regex at :65)."""
    dfs = [
        df.select(strip_version_suffix(col_q(".features")).alias("name"))
        for df in row_data
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.where(F.col("name").isNotNull()).distinct()


def build_experiment_df(
    sens_info: DataFrame, cell: DataFrame, pset_name: str
) -> DataFrame:
    """Experiment table (build_experiment_tables.py:41-75): project/rename
    sensitivity$info, broadcast-left-join the cell dim to pull tissue_id,
    stamp the dataset constant."""
    exp = sens_info.select(
        col_q(".rownames").alias("experiment_id"),
        F.col("cellid").alias("cell_id"),
        F.col("drugid").alias("compound_id"),
    )
    cell_dim = cell.select(
        F.col("cellid").alias("cell_id"), F.col("tissueid").alias("tissue_id")
    ).dropDuplicates(["cell_id"])
    return exp.join(F.broadcast(cell_dim), on="cell_id", how="left").withColumn(
        "dataset_id", F.lit(pset_name)
    )


def build_dose_response_df(dose: DataFrame, viability: DataFrame) -> DataFrame:
    """Dose-response long table (build_experiment_tables.py:80-140): melt the
    wide dose and viability matrices (R1) and join on (.exp_id, dose_id) —
    the reference's composite-key join with its "~3x" manual pre-indexing
    (:123-125); Spark chooses the join strategy itself. Values rounded to 8
    (:136-137). Our melt keys off actual column names, fixing the reference's
    row-count-based rename bug (SURVEY §7.3 item 5)."""
    dose_long = melt_wide(
        dose, id_vars=[".exp_id"], value_prefix="dose", var_name="dose_id", value_name="dose"
    )
    via_long = melt_wide(
        viability,
        id_vars=[".exp_id"],
        value_prefix="viability",
        var_name="dose_id",
        value_name="response",
    )
    joined = dose_long.join(via_long, on=[".exp_id", "dose_id"])
    return joined.select(
        col_q(".exp_id").alias("experiment_id"),
        F.col("dose_id").cast("int").alias("dose_id"),
        F.round("dose", 8).alias("dose"),
        F.round("response", 8).alias("response"),
    )


def build_profile_df(profiles: DataFrame, pset_name: str) -> DataFrame:
    """Profile stats table (build_experiment_tables.py:143-181): rename the
    recomputed columns, tolerate the HS/slope_recomputed variant (:170-171),
    pad missing DSS columns (utilities.py:30-35 via harmonize)."""
    renames = {
        ".rownames": "experiment_id",
        "aac_recomputed": "AAC",
        "ic50_recomputed": "IC50",
        "einf": "Einf",
        "ec50": "EC50",
    }
    out = profiles
    for old, new in renames.items():
        if old in out.columns and old != new:
            out = out.withColumnRenamed(old, new)
    # HS variant (build_experiment_tables.py:168-171): rename
    # slope_recomputed→HS only when HS is absent — renaming unconditionally
    # would create a duplicate HS column and break the harmonize reference
    if "slope_recomputed" in out.columns:
        if "HS" in out.columns:
            out = out.drop("slope_recomputed")
        else:
            out = out.withColumnRenamed("slope_recomputed", "HS")
    out = out.withColumn("dataset_id", F.lit(pset_name))
    return harmonize(
        out,
        {
            "experiment_id": "string",
            "AAC": "double",
            "IC50": "double",
            "HS": "double",
            "Einf": "double",
            "EC50": "double",
            "DSS1": "double",
            "DSS2": "double",
            "DSS3": "double",
            "dataset_id": "string",
        },
    )


def build_mol_cell_df(col_data: dict[str, DataFrame], pset_name: str) -> DataFrame:
    """Per-cell molecular profile counts (build_all_pset_tables.py:82-135):
    value_counts of cellid per mDataType (A3), union across mDataTypes,
    num_prof as int32 (:133)."""
    parts = []
    for mdt, df in col_data.items():
        parts.append(
            df.groupBy(F.col("cellid").alias("cell_id"))
            .agg(F.count("*").cast("int").alias("num_prof"))
            .withColumn("mDataType", F.lit(mdt))
            .withColumn("dataset_id", F.lit(pset_name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_dataset_join_dfs(
    pset_name: str, cell: DataFrame, compound: DataFrame
) -> dict[str, DataFrame]:
    """dataset_cell / dataset_tissue / dataset_compound join tables
    (build_dataset_join_tables.py:20-43)."""
    return {
        "dataset_cell": cell.select(F.col("name").alias("cell_id"))
        .distinct()
        .withColumn("dataset_id", F.lit(pset_name)),
        "dataset_tissue": cell.select(F.col("tissue_id"))
        .where(F.col("tissue_id").isNotNull())
        .distinct()
        .withColumn("dataset_id", F.lit(pset_name)),
        "dataset_compound": compound.select(F.col("name").alias("compound_id"))
        .distinct()
        .withColumn("dataset_id", F.lit(pset_name)),
    }


def build_dataset_stats_df(tables: dict[str, DataFrame], pset_name: str) -> DataFrame:
    """dataset_statistics 1-row summary (build_all_pset_tables.py:139-173):
    row counts of the built tables assembled into one record (A5)."""
    counts = []
    for name in sorted(tables):
        counts.append(
            tables[name].agg(
                F.lit(name).alias("table_name"), F.count("*").alias("n_rows")
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.withColumn("dataset_id", F.lit(pset_name))


def build_all_pset_tables(
    spark, catalog: dict[str, DataFrame], pset_name: str
) -> dict[str, DataFrame]:
    """Orchestrate the per-PSet phase (build_all_pset_tables.py:30-78) —
    returns the dict of lazy per-dataset tables; the caller writes them."""
    cell_raw = catalog["cell"]
    drug_raw = catalog["drug"]

    cell = build_cell_df(cell_raw)
    compound = build_compound_df(drug_raw)
    tables: dict[str, DataFrame] = {
        "dataset": build_dataset_df(spark, pset_name),
        "tissue": build_tissue_df(cell_raw),
        "cell": cell.withColumn("dataset_id", F.lit(pset_name)),
        "compound": compound.withColumn("dataset_id", F.lit(pset_name)),
    }

    row_data = [
        df for key, df in catalog.items()
        if key.startswith("molecularProfiles$") and key.endswith("$rowData")
    ]
    if row_data:
        tables["gene"] = build_gene_df(row_data)

    col_data = {
        key.split("$")[1]: df
        for key, df in catalog.items()
        if key.startswith("molecularProfiles$") and key.endswith("$colData")
    }
    if col_data:
        tables["mol_cell"] = build_mol_cell_df(col_data, pset_name)

    if "sensitivity$info" in catalog:
        tables["experiment"] = build_experiment_df(
            catalog["sensitivity$info"], cell_raw, pset_name
        )
    if "sensitivity$raw.Dose" in catalog and "sensitivity$raw.Viability" in catalog:
        tables["dose_response"] = build_dose_response_df(
            catalog["sensitivity$raw.Dose"], catalog["sensitivity$raw.Viability"]
        )
    if "sensitivity$profiles" in catalog:
        tables["profile"] = build_profile_df(catalog["sensitivity$profiles"], pset_name)

    tables.update(build_dataset_join_dfs(pset_name, cell, compound))
    tables["dataset_statistics"] = build_dataset_stats_df(
        {k: v for k, v in tables.items() if k != "dataset"}, pset_name
    )
    return tables
