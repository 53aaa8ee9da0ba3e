from pharmacodi_spark.plans.queries import QUERIES, spark_queries, oracle_queries
# one registry module per operator family; importing each registers its rows
import pharmacodi_spark.plans.series_q  # noqa: F401
import pharmacodi_spark.plans.tabular_q  # noqa: F401
import pharmacodi_spark.plans.dedup_q  # noqa: F401
import pharmacodi_spark.plans.winnow_q  # noqa: F401
import pharmacodi_spark.plans.lm_q  # noqa: F401
import pharmacodi_spark.plans.corpus_q  # noqa: F401
import pharmacodi_spark.plans.quality_q  # noqa: F401
import pharmacodi_spark.plans.selection_q  # noqa: F401
import pharmacodi_spark.plans.similarity_q  # noqa: F401
import pharmacodi_spark.plans.embedding_q  # noqa: F401
import pharmacodi_spark.plans.graph_q  # noqa: F401
import pharmacodi_spark.plans.web_q  # noqa: F401
import pharmacodi_spark.plans.sketches_q  # noqa: F401
import pharmacodi_spark.plans.pipeline_q  # noqa: F401  (registers pipeline composition)
import pharmacodi_spark.plans.analytics  # noqa: F401  (registers subquery/decorrelation kit)

from pyspark.sql import DataFrame, SparkSession

# The driver records only the FIRST 50 entries of ``queries()``
# (registration order), so the rows it must check are curated here and
# moved to the front: every SURVEY §2 operator ID, the three full pipeline
# compositions (the reference's actual product, ref
# combine_pset_tables.py:27-48) and one representative per LLM-pipeline
# family. Every name must be registered — ``_apply_driver_window`` fails at
# import otherwise. Queries past the window keep full coverage via the
# local driver-sim and the pytest oracle mirror; git history and
# ``CORRECTNESS_r*.json`` keep the round-by-round rotation record.
_DRIVER_WINDOW = [
    # r11-late heads (the whole debt):
    "ivf_arrow_assign", "simhash_wide_pairs", "quantile_sketch_audit",
    # r12 flagships: the sketch-maintenance E2E (gate from merged
    # state) and the bloom-prefiltered decontam equivalence
    "percentile_gate_sketch", "bloom_decontam",
    # changed this round (60-bit simhash branch -> results changed):
    "detector_agreement",
    # oldest-green: last driver row r6
    "filter_predicates", "dim_preserving_join", "first_per_group",
    "explode_tokens", "json_props_extract", "record_text_parse",
    # oldest-green: last driver row r7
    "union_dedup", "contamination_safe_split", "curation_funnel",
    "dsir_select", "token_budget_report", "winnow_near_pairs",
    "stupid_backoff_lm", "kneser_ney_lm",
    # oldest-green: last driver row r8 (first 31 in registration order)
    "pricing_summary", "experiment_join", "null_counts",
    "harmonize_contract", "clamp_recode", "composite_key_join",
    "fk_remap_dense", "update_join_coalesce", "melt_unpivot",
    "regex_kit", "window_tumbling", "multimodal_features", "asof_join",
    "range_join", "cube_stats", "glob_union_shards",
    "api_connector_enrich", "csv_na_roundtrip", "surrogate_key_fact",
    "catalog_scan", "fk_unmatched_audit", "ann_ivf_pq_topk",
    "vocab_token_count", "ingest_pipeline", "pagerank_dangling",
    "semantic_dedup_pipeline", "bm25_topk", "ann_int8_l2_topk",
    "training_shuffle_shards", "auto_salted_join_equiv",
]


def _apply_driver_window() -> None:
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    if missing:  # fail loud at import — a typo here silently wastes a slot
        raise KeyError(f"driver-window names not registered: {missing}")
    window = set(_DRIVER_WINDOW)
    rest = [n for n in QUERIES if n not in window]
    ordered = {n: QUERIES[n] for n in [*_DRIVER_WINDOW, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_window()


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's smoke-check query (SURVEY §7.1 step 2)."""
    return QUERIES["experiment_join"][0](spark, sf_dir)


__all__ = ["QUERIES", "spark_queries", "oracle_queries", "flagship"]
