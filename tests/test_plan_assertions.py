"""Always-on plan-regression guards: a fast subset of tools/explain_audit's
assertions runs in every pytest invocation (sf0.001), so a plan regression —
a lost pushdown, a surprise shuffle, a sort-merge join sneaking into a
broadcast cascade — fails CI instead of waiting for the per-round audit.

Cost note: most cases are explain-only (no jobs run), but building the
DataFrame of any barrier-bearing query (the curation cascade, the LM gates,
winnow_near_pairs) *executes* its stage barriers (metadata-size
localCheckpoint jobs) before explain — that is the very property their
``Scan ExistingRDD`` cases assert, so the cost is accepted and bounded by
running at sf0.001 and caching each query's plan text once per session."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.001"

# (query, pattern, must_be_present, why-it-matters-at-100TB)
CASES = [
    ("pricing_summary", r"PushedFilters: \[.*GreaterThanOrEqual\(l_discount",
     True, "range predicate reaches the parquet scan"),
    ("pricing_summary", r"ReadSchema:[^\n]*l_comment", False,
     "unused wide column is not read"),
    ("ann_int8_topk", r"\bExchange\b", False,
     "int8 probe is shuffle-free"),
    ("ann_int8_l2_topk", r"\bExchange\b", False,
     "l2-normalized int8 probe is equally shuffle-free"),
    ("ann_int8_l2_topk", r"TakeOrderedAndProject", True,
     "de-scaled score top-k is heaps, not a global sort"),
    ("ann_int8_topk", r"TakeOrderedAndProject", True,
     "top-k is heaps, not a global sort"),
    ("fk_remap_dense", r"hashpartitioning\(event_id", False,
     "fact never shuffles for the remap"),
    ("bm25_topk", r"SortMergeJoin", False,
     "retrieval joins stay broadcast/hash"),
    ("ingest_pipeline", r"SortMergeJoin", False,
     "the droplist semi-joins ride shuffle_hash — no sort of either side "
     "(the pinned droplist has no stats, so the planner fell to SMJ; r12)"),
    ("curation_pipeline", r"SortMergeJoin", False,
     "stage barriers keep the cascade broadcast-only"),
    ("curation_pipeline", r"Scan ExistingRDD", True,
     "survivor-id checkpoints exist between stages"),
    ("dsir_select", r"TakeOrderedAndProject", True,
     "DSIR selection is per-partition heaps, not a global sort"),
    ("dsir_select", r"SortMergeJoin", False,
     "λ rides as a literal — no join anywhere in train or score"),
    ("quality_percentile_gate", r"SortMergeJoin", False,
     "threshold broadcasts back; the corpus never sort-merge-joins"),
    ("tokenizer_fertility", r"\bGenerate\b", False,
     "fertility counts are per-row native exprs — no explode"),
    ("selection_pipeline", r"SortMergeJoin", False,
     "gate survivors broadcast back — the corpus never sort-merge-joins"),
    ("selection_pipeline", r"Scan ExistingRDD", True,
     "the gate's survivor-id set is barrier-pinned before DSIR's two passes"),
    ("length_buckets", r"\bGenerate\b", False,
     "bucket binning is per-row native exprs — no explode"),
    ("token_entropy_gate", r"\bWindow\b", False,
     "entropy is two keyed aggregations (id,token)->id — no window, "
     "no corpus-global state"),
    ("winnowing_fingerprints", r"hashpartitioning\((?!doc_id)", False,
     "ONE shuffle total: sort, window-min, distinct and the rollup all "
     "reuse the id-keyed guard partitioning"),
    ("winnowing_fingerprints", r"SortMergeJoin", False,
     "fingerprint selection is join-free"),
    ("winnow_near_pairs", r"Scan ExistingRDD", True,
     "the fingerprint set is barrier-pinned before its three consumers "
     "(pair expansion + both containment sides)"),
    ("winnow_near_pairs", r"SortMergeJoin", False,
     "pair expansion is bucket-local; containment joins stay "
     "broadcast/hash"),
    ("phrase_blocklist_gate", r"\bExchange\b", False,
     "replace-diff counting is one zero-shuffle projection over the scan"),
    ("phrase_blocklist_gate", r"\bGenerate\b", False,
     "no explode — occurrence counts are string arithmetic"),
    ("stupid_backoff_lm", r"Scan ExistingRDD", True,
     "uni/bi count tables and the occurrence stream are barrier-pinned — "
     "the tokenize/count subplans run once, not per consumer"),
    ("phrase_blocklist_ac", r"\bExchange\b", False,
     "the automaton pass is a zero-shuffle mapInPandas projection — "
     "bodies never leave their partitions"),
    ("phrase_blocklist_ac", r"MapInPandas", True,
     "matching runs in the Arrow-batched Python seam (the documented "
     "large-blocklist path), not a per-phrase expression chain"),
    ("kneser_ney_lm", r"Scan ExistingRDD", True,
     "the bigram count table and the occurrence stream are barrier-pinned "
     "— bi feeds five consumers (c1/n1p, ncont, T, the scoring join), "
     "occ feeds two; unpinned each re-expands the tokenize/explode"),
    ("authority_gate", r"SortMergeJoin", False,
     "docs probe the broadcast rank table; mean = broadcast 1-row agg"),
    ("hashed_lang_confusion", r"\bGenerate\b", False,
     "lang-head scoring is explode-free — per-row native folds over a "
     "materialized index array, zero shuffles before the rollup"),
    ("robots_txt_gate", r"SortMergeJoin", False,
     "robots rules are compliance-scale: URL gate joins stay broadcast"),
    ("fertility_by_scheme", r"SortMergeJoin", False,
     "per-doc scheme join-up is shuffled-hash on the unique id key"),
    ("classifier_calibration", r"\bJoin\b", False,
     "zero-join scorer fold + one map-side aggregate to bucket "
     "cardinality"),
    ("crawl_permission_funnel", r"SortMergeJoin", False,
     "both compliance gates broadcast; the verdict join-up is id-keyed "
     "metadata — no corpus-scale join"),
    ("unicode_token_stats", r"\bJoin\b", False,
     "script-aware tokenization is two regex projections + one "
     "map-side-combining aggregate — no join, no Python"),
    ("unicode_token_stats", r"\bGenerate\b", False,
     "token counts are array sizes over in-row extraction — no explode"),
    ("bigram_surprisal", r"Scan parquet", False,
     "one tokenize+explode total (r8 sf1 triage): the per-doc occurrence "
     "table and the bigram count table are pinned, so the final plan "
     "reads pins only — lazily composed, the explode ran three times"),
    ("bigram_surprisal", r"Scan ExistingRDD", True,
     "scoring re-reads the pinned occurrence + count tables"),
    ("detector_agreement", r"Scan parquet", False,
     "the three near-dup detectors share ONE pinned scan+tokenize stage — "
     "the final plan reads no parquet, only the token pin (r8: the "
     "heaviest query re-tokenized the corpus three times before)"),
    ("kneser_ney3_lm", r"Scan ExistingRDD", True,
     "the trigram count table, the D2 type table, and the occurrence "
     "stream are barrier-pinned — each feeds multiple rollup consumers "
     "that would otherwise re-expand the tokenize/explode"),
    ("psi_drift_series", r"\bGenerate\b", False,
     "the drift series is pure histogram arithmetic — no explode anywhere"),
    ("psi_drift_series", r"BroadcastHashJoin", True,
     "per-batch totals join broadcast (metadata-scale); only the "
     "full-outer universe join may sort-merge"),
    ("url_canonicalize", r"\bExchange\b", False,
     "canonicalization is one zero-shuffle projection over the scan — "
     "native split/substring_index, no regex, no UDF"),
    ("html_extract", r"\bExchange\b", False,
     "main-content extraction is one zero-shuffle projection — the page "
     "never leaves its scan partition"),
    ("html_extract", r"BatchEvalPython|ArrowEvalPython|MapInPandas", False,
     "the driver-facing extractor is the native path, not the parser "
     "seam — whole-stage codegen end to end"),
    ("url_domain_gate", r"BroadcastHashJoin", True,
     "the domain blocklist broadcasts against the bounded host-suffix "
     "explode; bodies never shuffle"),
    ("url_domain_gate", r"SortMergeJoin", False,
     "no corpus-scale join anywhere in the gate"),
    ("fuzzy_decontam", r"Scan ExistingRDD", True,
     "both signature frames are barrier-pinned — each feeds its band "
     "cells AND the Jaccard estimator"),
    ("fuzzy_decontam", r"BroadcastHashJoin", True,
     "the eval side's band cells broadcast against the train cells — "
     "candidate generation is never an LSH self-join"),
    ("domain_quality_rollup", r"BroadcastHashJoin", True,
     "the blocked-host offender table broadcasts back against the scan"),
    ("domain_quality_rollup", r"SortMergeJoin", False,
     "one host-keyed aggregation + broadcast join-back; no corpus-scale "
     "join"),
    ("registered_domain", r"BroadcastHashJoin", True,
     "the PSL broadcasts against the bounded host-suffix explode"),
    ("registered_domain", r"SortMergeJoin", False,
     "suffix join + one map-side-collapsing per-id agg; no corpus-scale "
     "join"),
    ("embedding_encode_stats", r"MapInPandas|ArrowEvalPython", True,
     "the encoder seam is a deliberate Arrow-batched Python stage (real "
     "model adapters drop in); the plumbing itself is what's verified"),
    ("embedding_encode_stats", r"\bJoin\b", False,
     "vector stats are per-row native array algebra — zero joins"),
    ("embedding_encode_stats", r"hashpartitioning", False,
     "documents never leave their scan partitions (only the round-robin "
     "spread of a single-file local scan)"),
    ("unicode_bigram_surprisal", r"Scan ExistingRDD", True,
     "the seam swaps ONE tokenize projection; the pinned bigram topology "
     "is unchanged — scoring reads pins only"),
    ("unicode_bigram_surprisal", r"BatchEvalPython|ArrowEvalPython|MapInPandas",
     False,
     "unicode tokenization is two native regexes — the CJK path stays on "
     "the JVM pipeline"),
    ("text_semantic_dedup", r"Scan ExistingRDD", True,
     "the encoded frame is pinned after the Python encode; pair "
     "self-join + droplist read the pin, never re-running the encoder"),
    ("text_semantic_dedup", r"MapInPandas", False,
     "no Python stage downstream of the pin — the encode ran once"),
    ("rank_weighted_select", r"\bExchange\b", False,
     "authority×DSIR selection is ZERO-shuffle: λ rides as a literal "
     "fold, the pinned rank prior broadcasts, top-k is heaps"),
    ("rank_weighted_select", r"TakeOrderedAndProject", True,
     "selection is per-partition heaps, not a global sort"),
    ("rank_weighted_select", r"Scan ExistingRDD", True,
     "the 2-iteration rank prior is barrier-pinned — the doc join "
     "reads metadata, not the link-graph derivation"),
    ("kmeans_topics", r"Scan parquet", False,
     "the quantized frame is pinned; the final assignment + rollup "
     "read the pin, never re-scanning (or re-quantizing) the corpus"),
    ("kmeans_topics", r"SortMergeJoin", False,
     "centroids are broadcast literals — no sort-merge join anywhere in "
     "Lloyd's"),
    ("retrieval_ndcg", r"SortMergeJoin", False,
     "the bounded probe sample broadcasts against the corpus scan — "
     "the corpus never shuffles to form pairs"),
    ("retrieval_ndcg", r"BroadcastNestedLoopJoin", True,
     "pair generation is the broadcast probe set against the scan "
     "(id<>qid non-equi), not a corpus-side exchange"),
    ("cluster_balanced_sample", r"Scan parquet", False,
     "the quota window reads the pinned quantized frame — no corpus "
     "re-scan after Lloyd's"),
    ("cluster_balanced_sample", r"SortMergeJoin", False,
     "centroids are broadcast literals; the quota is a cid-keyed window "
     "over id/distance triples"),
    ("embedding_top_component", r"\bExchange\b", False,
     "the final projection is a zero-shuffle fold over the pinned "
     "centered frame — component and mean ride as literals"),
    ("embedding_top_component", r"Scan parquet", False,
     "power-iteration consumers read the pin; the corpus is scanned "
     "(and centered) once"),
    ("embedding_top_component", r"\bJoin\b", False,
     "no join anywhere — per-dim aggregates collapse to dim-row "
     "metadata that returns as plan literals"),
    ("abtt_corrected_topk", r"\bExchange\b", False,
     "correction + probe dot fuse into one zero-shuffle pass over the "
     "pinned corrected frame"),
    ("abtt_corrected_topk", r"Scan parquet", False,
     "the probe collect and the top-k both read the pin — the corpus "
     "is corrected once"),
    ("abtt_corrected_topk", r"TakeOrderedAndProject", True,
     "corrected retrieval is per-partition heaps, not a global sort"),
    ("cluster_purity", r"SortMergeJoin", False,
     "the stat-less pinned assignment joins labels hash, not sort-merge "
     "(the near_dup_droplist lesson); total+majority are two windows "
     "over one cid exchange, not a self-join"),
    ("hll_distinct", r"partial_max", True,
     "registers combine map-side — at most 256 rows per group reach "
     "the exchange regardless of input rows"),
    ("hll_distinct", r"hashpartitioning\(text#", False,
     "document bodies never enter an exchange — only (source, register) "
     "keys do"),
    ("ivf_table_assign", r"BroadcastNestedLoopJoin", True,
     "the k=200 centroid table collapses to ONE broadcast row — the "
     "constant-plan argmin path, not k plan-literal expressions"),
    ("ivf_table_assign", r"SortMergeJoin", False,
     "no sort-based join anywhere: broadcast centroids + one ≤k-row "
     "groupBy is the whole exchange story"),
    ("ivf_table_assign", r"MapInPandas", False,
     "this k-tier stays JVM-side (transform/aggregate argmin); the "
     "Arrow GEMM tier is ivf_assign_arrow, not this plan"),
    ("unicode_decontam", r"LeftSemi", True,
     "train gram hashes semi-join the distinct eval sidecar — the "
     "contract: no doc bodies in the collision check"),
    ("unicode_decontam", r"SortMergeJoin", False,
     "the eval gram set is benchmark-sized: hash/broadcast joins only"),
    ("ivf_arrow_assign", r"MapInPandas", True,
     "the GEMM tier IS the Arrow seam — one matmul per batch over the "
     "broadcast centroid matrix"),
    ("ivf_arrow_assign", r"SortMergeJoin", False,
     "no join at all in the assign path; only the ≤k-row cid rollup "
     "exchanges"),
    ("simhash_wide_pairs", r"partial_sum", True,
     "the 60 per-bit majority sums collapse map-side — one (doc, sums) "
     "exchange carries the whole fingerprint build"),
    ("simhash_wide_pairs", r"SortMergeJoin", False,
     "bucket-local pair expansion under the triangle guard — no "
     "corpus-scale sort join"),
    ("quantile_sketch_audit", r"partial_count", True,
     "the sketch state collapses map-side — at most 64 bucket rows per "
     "source reach the exchange regardless of corpus size"),
    ("quantile_sketch_audit", r"hashpartitioning\(source", True,
     "sketch + exact referee both key by source — no doc-id-scale "
     "exchange"),
    ("percentile_gate_sketch", r"partial_count", True,
     "each slice's sketch collapses map-side before the merge — ≤64 "
     "bucket rows per (slice, source) reach any exchange"),
    ("percentile_gate_sketch", r"BroadcastHashJoin", True,
     "gate thresholds and exact-referee thresholds broadcast back onto "
     "the corpus — per-source metadata, never shuffled corpus-side"),
    ("percentile_gate_sketch", r"SortMergeJoin", False,
     "both joins are per-source 1-row-ish metadata: broadcast only"),
    ("bloom_decontam", r"getbit", True,
     "the bitmap prefilter compiled into the gram projection — train "
     "grams failing a bit test never reach the distinct's exchange"),
    ("bloom_decontam", r"LeftSemi", True,
     "the exact referee: surviving candidates semi-join the real eval "
     "hashes, removing the fp band"),
    ("bloom_decontam", r"SortMergeJoin", False,
     "eval side is benchmark-sized: broadcast joins only"),
]


_PLAN_CACHE: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        from pharmacodi_spark.plans import QUERIES

        df = QUERIES[name][0](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        _PLAN_CACHE[name] = buf.getvalue()
    return _PLAN_CACHE[name]


@pytest.mark.parametrize("name,pat,want,why", CASES,
                         ids=[f"{n}:{w}" for n, _, _, w in CASES])
def test_plan_property(spark, name, pat, want, why):
    plan = _plan(spark, name)
    hit = re.search(pat, plan) is not None
    assert hit == want, (
        f"{name}: expected `{pat}` {'present' if want else 'absent'} ({why})"
    )
