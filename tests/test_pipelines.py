"""Golden-ish pipeline tests on PSet-shaped fixtures (FIXTURES.md §A/§B):
two overlapping PSets through the per-PSet phase, then the combine phase,
asserting the reference's inline invariants (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pharmacodi_spark.pipelines.pset import build_all_pset_tables
from pharmacodi_spark.pipelines.combine import (
    IC50_CLAMP,
    combine_dim,
    combine_experiment,
    remap_fact_to_experiment,
)
from pharmacodi_spark.operators.keys import remap_fk, rename_and_key


def _catalog_a(spark):
    cell = spark.createDataFrame(
        [("c1", "lung"), ("c2", "lung"), ("c3", "breast")], ["cellid", "tissueid"]
    )
    drug = spark.createDataFrame(
        [("r1", "dA", "C1=CC=CC=C1", "IK1", "101", True),
         ("r2", "dB", None, None, "102", False)],
        ["rownames", "drugid", "smiles", "inchikey", "cid", "FDA"],
    )
    sens_info = spark.createDataFrame(
        [("e1", "c1", "dA"), ("e2", "c2", "dB"), ("e3", "cMISSING", "dA")],
        [".rownames", "cellid", "drugid"],
    )
    dose = spark.createDataFrame(
        [("e1", 0.1, 0.2, None), ("e2", 1.0, 2.0, 4.0)],
        [".exp_id", "dose1", "dose2", "dose3"],
    )
    via = spark.createDataFrame(
        [("e1", 99.123456789, 80.0, None), ("e2", 95.0, 60.0, 30.0)],
        [".exp_id", "viability1", "viability2", "viability3"],
    )
    profiles = spark.createDataFrame(
        [("e1", 0.5, 2e60, 1.1, 0.2, 0.3, 1.0, 2.0, 3.0),
         ("e2", 0.6, 1.0, 1.2, 0.3, 0.4, 1.5, 2.5, 3.5)],
        [".rownames", "aac_recomputed", "ic50_recomputed", "HS", "einf", "ec50",
         "DSS1", "DSS2", "DSS3"],
    )
    rna_row = spark.createDataFrame(
        [("ENSG00000000003.14",), ("ENSG00000000005.5",)], [".features"]
    )
    rna_col = spark.createDataFrame([("c1",), ("c1",), ("c2",)], ["cellid"])
    return {
        "cell": cell,
        "drug": drug,
        "sensitivity$info": sens_info,
        "sensitivity$raw.Dose": dose,
        "sensitivity$raw.Viability": via,
        "sensitivity$profiles": profiles,
        "molecularProfiles$rna$rowData": rna_row,
        "molecularProfiles$rna$colData": rna_col,
    }


def _catalog_b(spark):
    # overlaps: c2 cell, dB compound, one shared gene; HS arrives as
    # slope_recomputed and DSS columns are missing (harmonize pad path)
    cell = spark.createDataFrame(
        [("c2", "lung"), ("c4", "skin")], ["cellid", "tissueid"]
    )
    drug = spark.createDataFrame(
        [("r1", "dB", "CCO", "IK2", "102", False),
         ("r2", "dC", "CCC", "IK3", "103", True)],
        ["rownames", "drugid", "smiles", "inchikey", "cid", "FDA"],
    )
    sens_info = spark.createDataFrame(
        [("e1", "c2", "dB"), ("e2", "c4", "dC")], [".rownames", "cellid", "drugid"]
    )
    dose = spark.createDataFrame([("e1", 0.5, 1.5)], [".exp_id", "dose1", "dose2"])
    via = spark.createDataFrame([("e1", 88.0, 44.0)], [".exp_id", "viability1", "viability2"])
    profiles = spark.createDataFrame(
        [("e1", 0.4, 2.0, 0.9, 0.1, 0.2)],
        [".rownames", "aac_recomputed", "ic50_recomputed", "slope_recomputed",
         "einf", "ec50"],
    )
    rna_row = spark.createDataFrame(
        [("ENSG00000000003.10",), ("ENSG00000000419.12",)], [".features"]
    )
    rna_col = spark.createDataFrame([("c2",), ("c4",), ("c4",)], ["cellid"])
    return {
        "cell": cell,
        "drug": drug,
        "sensitivity$info": sens_info,
        "sensitivity$raw.Dose": dose,
        "sensitivity$raw.Viability": via,
        "sensitivity$profiles": profiles,
        "molecularProfiles$rna$rowData": rna_row,
        "molecularProfiles$rna$colData": rna_col,
    }


@pytest.fixture(scope="module")
def built(spark):
    a = build_all_pset_tables(spark, _catalog_a(spark), "PSET_A")
    b = build_all_pset_tables(spark, _catalog_b(spark), "PSET_B")
    return a, b


def test_pset_tables_present(built):
    a, _ = built
    expected = {
        "dataset", "tissue", "cell", "compound", "gene", "mol_cell",
        "experiment", "dose_response", "profile", "dataset_cell",
        "dataset_tissue", "dataset_compound", "dataset_statistics",
    }
    assert expected.issubset(a.keys())


def test_gene_version_stripped_and_deduped(built):
    a, b = built
    genes_a = {r[0] for r in a["gene"].collect()}
    assert genes_a == {"ENSG00000000003", "ENSG00000000005"}
    genes_b = {r[0] for r in b["gene"].collect()}
    assert "ENSG00000000003" in genes_b  # different version, same gene


def test_dose_response_melt(built):
    a, _ = built
    rows = {(r.experiment_id, r.dose_id): (r.dose, r.response)
            for r in a["dose_response"].collect()}
    # null dose3/viability3 for e1 dropped (build_experiment_tables.py:116-121)
    assert ("e1", 3) not in rows
    assert rows[("e2", 3)] == (4.0, 30.0)
    # round to 8 (build_experiment_tables.py:136-137)
    assert rows[("e1", 1)][1] == 99.12345679


def test_profile_harmonized(built):
    a, b = built
    pa = a["profile"].collect()
    pb = b["profile"].collect()
    assert {r.experiment_id for r in pa} == {"e1", "e2"}
    # PSET_B: slope_recomputed → HS, DSS1-3 padded as nulls
    row_b = pb[0]
    assert row_b.HS == 0.9 and row_b.DSS1 is None and row_b.DSS3 is None
    assert "DSS1" in b["profile"].columns


def test_profile_both_hs_and_slope_recomputed(spark):
    """A PSet carrying BOTH HS and slope_recomputed must not produce a
    duplicate HS column (reference build_experiment_tables.py:168-171
    renames only when HS is absent): HS wins, slope_recomputed dropped."""
    from pharmacodi_spark.pipelines.pset import build_profile_df

    profiles = spark.createDataFrame(
        [("e1", 0.5, 1.0, 1.1, 7.7, 0.2, 0.3)],
        [".rownames", "aac_recomputed", "ic50_recomputed", "HS",
         "slope_recomputed", "einf", "ec50"],
    )
    out = build_profile_df(profiles, "PSET_X")
    assert out.columns.count("HS") == 1
    assert out.first().HS == 1.1  # the pre-existing HS, not slope_recomputed


def test_combine_experiment_dense_global_matches_window(spark):
    """The fact-scale surrogate strategy must assign the same composite-key
    ids as the window path (operators/keys.py contract)."""
    from pharmacodi_spark.pipelines.combine import combine_experiment

    exp = spark.createDataFrame(
        [(f"e{i}", f"c{i % 3}", f"d{i % 2}", f"t{i % 2}", f"DS{i % 2}")
         for i in range(40)],
        ["experiment_id", "cell_id", "compound_id", "tissue_id", "dataset_id"],
    )
    dims = {
        name: spark.createDataFrame(
            [(j + 1, v) for j, v in enumerate(vals)], ["id", "name"]
        )
        for name, vals in {
            "cell": ["c0", "c1", "c2"],
            "compound": ["d0", "d1"],
            "tissue": ["t0", "t1"],
            "dataset": ["DS0", "DS1"],
        }.items()
    }
    a, _ = combine_experiment(
        exp, dims["cell"], dims["compound"], dims["tissue"], dims["dataset"]
    )
    b, _ = combine_experiment(
        exp, dims["cell"], dims["compound"], dims["tissue"], dims["dataset"],
        dense_global=True,
    )
    rows_a = {r.experiment_id: r.id for r in a.collect()}
    rows_b = {r.experiment_id: r.id for r in b.collect()}
    assert rows_a == rows_b


def test_experiment_left_join_keeps_unmatched_cell(built):
    a, _ = built
    exp = {r.experiment_id: r for r in a["experiment"].collect()}
    assert exp["e3"].tissue_id is None  # cMISSING: left join keeps, tissue null
    assert exp["e1"].tissue_id == "lung"


def test_mol_cell_counts(built):
    a, _ = built
    mc = {r.cell_id: r.num_prof for r in a["mol_cell"].collect()}
    assert mc == {"c1": 2, "c2": 1}


def test_combine_dim_dense_sorted_ids(spark, built):
    a, b = built
    tissue = combine_dim([a["tissue"], b["tissue"]])
    rows = sorted((r.id, r.name) for r in tissue.collect())
    assert rows == [(1, "breast"), (2, "lung"), (3, "skin")]


@pytest.mark.slow
def test_combine_experiment_and_fact_remap(spark, built):
    a, b = built
    cell = combine_dim([a["cell"].select("name"), b["cell"].select("name")])
    compound = combine_dim([a["compound"].select("name"), b["compound"].select("name")])
    tissue = combine_dim([a["tissue"], b["tissue"]])
    dataset = combine_dim([a["dataset"], b["dataset"]])

    exp_all = a["experiment"].unionByName(b["experiment"])
    exp, audits = combine_experiment(
        exp_all,
        rename_and_key(cell, "cell_id"),
        rename_and_key(compound, "compound_id"),
        rename_and_key(tissue, "tissue_id"),
        rename_and_key(dataset, "dataset_id"),
    )
    exp_rows = exp.collect()
    # e3 (cMISSING) dropped by on_miss="drop"; audit surfaces it
    assert len(exp_rows) == 4
    unmatched = audits["cell_id"].collect()
    assert [r[0] for r in unmatched] == ["cMISSING"]
    ids = sorted(r.id for r in exp_rows)
    assert ids == [1, 2, 3, 4]  # dense surrogate keys

    # fact remap on composite (dataset, experiment) natural keys + clamp
    prof_all = a["profile"].unionByName(b["profile"], allowMissingColumns=True)
    prof = remap_fact_to_experiment(prof_all, exp, clamp_ic50=True)
    assert prof.count() == 3
    assert prof.agg(F.max("IC50")).collect()[0][0] <= IC50_CLAMP
    assert "experiment_id" in prof.columns and "dataset_id" not in prof.columns


def test_remap_fk_error_mode(spark, built):
    a, _ = built
    dim = spark.createDataFrame([(1, "lung")], ["id", "tissue_id"])
    tbl = a["experiment"].select("experiment_id", "tissue_id")
    with pytest.raises(ValueError, match="unmatched"):
        remap_fk(tbl, dim, "tissue_id", on_miss="error")[0].collect()


def test_dense_global_ids_stable_under_composed_plans(spark):
    """Regression (round 2): dense_global surrogate ids must be a permutation
    of 1..n equal to the global rank even when the input is a composed plan
    (joins) whose range exchange Spark may re-evaluate — the tagged frame is
    checkpoint-frozen precisely so both consumers see one boundary sample."""
    from pyspark.sql import Window

    from pharmacodi_spark.operators.keys import surrogate_key

    left = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("g")
    )
    right = spark.range(0, 97).select(
        F.col("id").alias("g"), F.concat(F.lit("s"), F.col("id") % 7).alias("tag")
    )
    composed = left.join(right, "g")  # join → no trivially-reusable exchange
    out = surrogate_key(composed, order_by=["tag", "k"], dense_global=True)
    n = out.count()
    assert out.select("id").distinct().count() == n
    lo, hi = out.agg(F.min("id"), F.max("id")).first()
    assert (lo, hi) == (1, n)
    w = Window.orderBy(F.asc_nulls_last("tag"), F.asc_nulls_last("k"))
    bad = (
        out.withColumn("expect", F.row_number().over(w).cast("long"))
        .where(F.col("id") != F.col("expect"))
        .count()
    )
    assert bad == 0
