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

# The driver's CORRECTNESS file records only the FIRST 50 entries of
# ``queries()`` (registration order) — both r01 and r02 prove the cap.
# Curate that window explicitly: every SURVEY §2 operator ID plus the three
# full pipeline compositions (the reference's actual product,
# ref combine_pset_tables.py:27-48) must land a driver-green row, with the
# remaining slots spent on one representative per LLM-pipeline family
# (exact dedup, LSH, ANN, multimodal, streaming twin, fuzzy E2E,
# incremental ingest). Queries past the window keep full coverage via the
# local driver-sim and the pytest oracle mirror.
_DRIVER_WINDOW = [
    # ------------------------------------------------------------------
    # r12 rotation (steady-state policy, round 2): 3 r11-late heads
    # (pre-declared in the r11 window comment — local-mirror + vanilla-
    # driver-sim green since r11, never had a driver row), 2 r12
    # flagships (percentile_gate_sketch + bloom_decontam, registered
    # this round — window slots decided at registration time), 14
    # oldest-green rows (r6: 6, r7: 8), and 31 from the r8 cohort in
    # registration order INCLUDING detector_agreement out of order —
    # its simhash branch moved to the production 60-bit width this
    # round, so its oracle RESULTS changed and the driver must
    # re-record it. Remaining r8 rows (19, starting at
    # incremental_curation) plus the r9 cohort are the r13 rotation
    # tail. Every rotated-out query keeps
    # full coverage via the local driver-sim + the pytest oracle mirror.
    #
    # r13 rotation heads (registered after this window froze; each is
    # local-mirror green at registration time, no driver row yet):
    # cell_pairs_arrow (the Arrow GEMM pair-scoring tier's exactness
    # row — integer-quantized cosine pairs under the triangle guard),
    # kmv_overlap (the KMV bottom-k set-operations sketch — corpus
    # shingle-space overlap from ≤k-row state, saturated regime),
    # snm_candidate_pairs (sorted-neighborhood blocking — the
    # linear-mass sort-order complement to the hash bucket families),
    # kmv_source_matrix (the all-pairs source-overlap surface from
    # per-source KMV sketches — 190 rows at any sf).
    # ------------------------------------------------------------------
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

#: the r11 steady-state window, kept for its rotation rationale — every
#: entry here has a driver-green CORRECTNESS row from r11.
_DRIVER_WINDOW_R11 = [
    # ------------------------------------------------------------------
    # r11 rotation — first steady-state round of the documented policy
    # (plans/__init__.py r10 comment; VERDICT r10 items 2/8): the window
    # = this round's flagships + every never-driver-verified registration
    # + the OLDEST rows by last-driver-green date, so no registry entry's
    # driver evidence goes stale beyond ~4 rounds. Composition (50):
    #   2  r11 flagships (registered this round, window slot decided at
    #      registration time — the discipline VERDICT item 8 asked for);
    #   10 r10-late registrations (local-mirror + vanilla-driver-sim
    #      green since r10; never had a driver row — the whole debt);
    #   38 oldest-green, ascending last-green round (r2: 15, r3: 3,
    #      r4: 9, r5: 11 — computed from CORRECTNESS_r01..r10).
    # Every rotated-out query keeps full coverage via the local
    # driver-sim (211/211 green this session) + the pytest oracle mirror.
    #
    # r12 rotation heads (registered after this window froze; each is
    # local-mirror + vanilla-driver-sim green, no driver row yet):
    # ivf_arrow_assign (the GEMM tier's exactness row — sibling of
    # in-window ivf_table_assign, same oracle shape at k=48),
    # simhash_wide_pairs (the production 60-bit fingerprint width), and
    # quantile_sketch_audit (the log2-bucket quantile sketch, completing
    # the mergeable-sketch family).
    # ------------------------------------------------------------------
    # r11 flagships: the broadcast-centroid-table IVF assign at k=200
    # (centroids as a DataFrame) and the CJK decontamination E2E (the
    # tokens_col seam on the highest-stakes space-split op)
    "ivf_table_assign", "unicode_decontam",
    # r10-late registrations (the never-driver-verified tail):
    "text_semantic_dedup", "rank_weighted_select", "kmeans_topics",
    "retrieval_ndcg", "cluster_balanced_sample", "embedding_top_component",
    "abtt_corrected_topk", "embedding_drift", "cluster_purity",
    "hll_distinct",
    # oldest-green: last driver row r2
    "rollup_stats", "sessionization", "doc_fingerprint",
    "minhash_signature", "jaccard_pairs", "text_stats",
    "lang_stopword_score", "ann_cosine_bucketed", "simhash_fingerprint",
    "simhash_near_pairs", "embedding_near_dup", "token_count_bpe",
    "quality_score", "window_sliding", "dedup_watermark",
    # oldest-green: last driver row r3
    "table_stats", "group_concat", "anti_join",
    # oldest-green: last driver row r4
    "group_count", "constant_flag", "cross_join_pairs", "map_lookup",
    "distinct_rows", "except_distinct", "pivot_wide", "melt_columns",
    "incremental_dedup",
    # oldest-green: last driver row r5
    "broadcast_left_join", "semi_join", "surrogate_key_dim",
    "top_k_orders", "exact_dedup", "minhash_band_pairs", "ann_dot_topk",
    "fuzzy_dedup_pipeline", "ann_int8_topk", "passage_dedup",
    "curation_pipeline",
]

#: the r10 debt-burning window, kept for its rotation rationale (the r9
#: burn-down list and the two r10 flagship seams) — every entry here has
#: a driver-green CORRECTNESS row from r10.
_DRIVER_WINDOW_R10 = [

    # ------------------------------------------------------------------
    # r10 rotation — the debt-burning round (VERDICT r9 item 2): after the
    # r9 full rotation, EXACTLY 48 registry entries had never earned a
    # driver-green CORRECTNESS row (VERDICT r9's burn-down list; verified
    # this session by diffing the registry against every CORRECTNESS_r0*
    # green row). All 48 fit the window, plus this round's two flagships
    # (embedding_encode_stats = the encoder seam oracle, VERDICT item 5;
    # unicode_bigram_surprisal = the tokens_col seam E2E, VERDICT item 4)
    # = 50/50 slots. After this window lands, EVERY registry entry has
    # ≥1 driver row across r1–r10; from r11 the window goes steady-state:
    # new flagships + the oldest rows by last-driver-green date (VERDICT
    # item 8), so no query's evidence goes stale beyond ~4 rounds. Every
    # rotated-out query keeps full coverage via the local driver-sim +
    # pytest oracle mirror (tests/test_queries_oracle.py) each session.
    # array_kit re-enters with a scalar-only projection (its r9 row was
    # the driver-canonicalizer TypeError, VERDICT item 1 — the array
    # algebra is unchanged upstream of the output projection).
    #
    # r11 rotation heads (registered after this window froze; each is
    # local-mirror + vanilla-driver-sim green, no driver row yet):
    # rank_weighted_select, kmeans_topics, cluster_balanced_sample,
    # retrieval_ndcg, embedding_top_component, abtt_corrected_topk,
    # embedding_drift, cluster_purity, hll_distinct.
    # ------------------------------------------------------------------
    # r9-late flagships registered after the r9 window froze:
    "crawl_permission_funnel", "unicode_minhash_pairs",
    "fertility_by_scheme", "classifier_calibration",
    # r10 flagships (this round's new capability seams):
    "embedding_encode_stats", "unicode_bigram_surprisal",
    # the remaining never-driver-verified entries, registration order:
    "array_kit", "quality_classifier_score", "bigram_surprisal",
    "hybrid_rrf_topk", "minhash_jaccard_est", "salted_join_equiv",
    "corr_avg_filter", "argmin_supplier", "exists_coexist_audit",
    "global_scalar_anti", "count_distribution", "having_semi_top",
    "tokenizer_fertility", "length_buckets", "quality_percentile_gate",
    "dedup_attribution", "source_signature_terms",
    "embedding_prototypicality", "source_overlap_minhash", "lang_confusion",
    "dup_cluster_histogram", "neardup_threshold_histogram", "corpus_diff",
    "dsir_resample", "jl_projection", "cm_heavy_hitters", "corpus_report",
    "hard_negatives", "phrase_detection", "source_boilerplate_strip",
    "exact_dedup_quality_keeper", "window_mix_entropy",
    "vocab_coverage_curve", "ngram_diversity", "decontam_attribution",
    "token_entropy_gate", "winnowing_fingerprints",
    "source_length_quantiles", "phrase_blocklist_gate", "corpus_drift_psi",
    "shard_manifest", "knn_label_eval", "incremental_winnow",
    "soft_dedup_weights",
]

#: the r1–r8 curated window, kept for the per-slot rotation rationale the
#: comments below document (each §2 ID's in-window coverage argument) —
#: every entry here has a driver-green CORRECTNESS row from r8 or earlier.
_DRIVER_WINDOW_R8 = [
    # flagship + TPC-H headline
    "pricing_summary", "experiment_join",
    # sources / sinks (S1-S5, S7, S9, S12)
    # (r7: record_text_parse rotated out — S9/R6's record assembly is a
    # group-concat + pivot, both of which keep hard in-window evidence via
    # synonym_pipeline's ||| synonym assembly (the same reshape.py:80
    # group-concat) and the enrichment cascade's pivot; oracle row stays
    # green in the driver-sim + pytest mirror)
    "csv_na_roundtrip", "catalog_scan", "glob_union_shards",
    "api_connector_enrich",
    # projections / predicates / updates (P1-P13)
    # (r5 cont.: constant_flag rotated out — P12/P13's constant/derived-flag
    # paths stay driver-exercised via harmonize_contract's typed-null pad
    # constants and clamp_recode's recode flag; oracle row remains in the
    # driver-sim + pytest mirror)
    # (r7 cont.: filter_predicates rotated out — P4-P7's null/comparison/
    # empty-string predicates are the WHERE clause of nearly every
    # in-window query (null_counts carries the null-audit shape, the
    # curation/ingest cascades run semi/anti predicate stages, regex_kit
    # keeps the regex-predicate path); oracle row stays green in the
    # driver-sim + pytest mirror)
    "null_counts", "clamp_recode",
    "harmonize_contract",
    # joins (J1-J11)
    # (r4: anti_join rotated out — J9's anti path keeps hard driver
    # evidence via fk_unmatched_audit's left-anti audit and
    # ingest_pipeline's two anti-join stages; semi_join stays)
    # (r5: cross_join_pairs (J10) and map_lookup (J11) rotated out —
    # J10's cross product stays driver-exercised inside cube_stats'
    # grouping-set expansion and the ANN centroid assignment
    # (broadcast nested loop), J11's literal-map path via clamp_recode's
    # recode map; both keep oracle rows in the driver-sim + pytest mirror)
    # (r6 cont.: broadcast_left_join rotated out — J1's broadcast-dim shape
    # is the in-window experiment_join's core join (J1/J8) and the join
    # strategy of every pipeline cascade; its oracle row stays green in the
    # driver-sim + pytest mirror)
    "composite_key_join", "fk_remap_dense",
    # (r6 cont.: semi_join rotated out — J9's left-semi path keeps hard
    # driver evidence via ingest_pipeline's semi-join survivor stages and
    # incremental_curation's entrant semi-joins, both in-window; its
    # oracle row stays green in the driver-sim + pytest mirror)
    # (r7: dim_preserving_join rotated out — J7's row-count-preserving
    # left-join contract is the core join discipline of the in-window
    # combine_pipeline / meta_pipeline cascades (every dim attach there is
    # dim-preserving by construction) and of experiment_join; its oracle
    # row stays green in the driver-sim + pytest mirror)
    "update_join_coalesce",
    # aggregation / audit (A1-A8). Round-4 rotation (VERDICT r3 item 10):
    # table_stats (A5) and group_concat (A7) yield their slots to extension
    # queries — A5 stays driver-covered via null_counts/cube_stats-style
    # aggregates and A7 via synonym_pipeline (its synonym assembly IS the
    # ||| group-concat, operators/reshape.py:80); both keep their own
    # oracle rows under the local driver-sim + pytest mirror.
    # (r5 cont.: distinct_rows and group_count rotated out — A1 keeps hard
    # evidence via union_dedup's distinct and exact_dedup's grouped min-id
    # keeper; A3 via null_counts / fk_unmatched_audit / every grouped agg
    # in-window; both keep oracle rows in the driver-sim + pytest mirror)
    # (r7 cont.: first_per_group rotated out — A2's deterministic
    # first-per-key keeper is the min-id exact-dedup stage INSIDE the
    # in-window curation/ingest E2Es and the dim path of the pipeline
    # cascades; oracle row stays green in the driver-sim + pytest mirror)
    "fk_unmatched_audit",
    # ids / sort / limit (W1/W2, O1-O5)
    # (r6 cont.: top_k_orders rotated out — O5's limit/top-k shape is
    # exercised in-window by every TakeOrderedAndProject query (bm25_topk,
    # both int8 probes, skew_diagnose); oracle row stays in the mirror)
    # (r6 cont.: surrogate_key_dim rotated out — W1's dense-id machinery is
    # the same operators/keys.py path as the in-window surrogate_key_fact
    # (the harder, range-partition-pinned variant), and the dim-table id
    # path runs inside the in-window combine/meta pipeline cascades)
    "surrogate_key_fact",
    # set ops (U1-U3) (r5: except_distinct rotated out — U3 keeps hard
    # evidence via incremental_dedup's new-vs-corpus difference; union_dedup
    # stays for U1/U2)
    # (r8: union_dedup rotated out — U1's union-all is the in-window
    # glob_union_shards loader (S3/S4 IS a shard union) plus the batch
    # unions inside ingest_pipeline; U2's union+distinct is the same
    # distinct/min-id keeper machinery running inside the in-window
    # curation/ingest E2Es; oracle row stays green in the driver-sim +
    # pytest mirror)
    # reshape (R1-R6) (r5: pivot_wide rotated out — R6's pivot path stays
    # driver-exercised via record_text_parse's record assembly; r5 cont.:
    # melt_columns out — R2's list-melt is the R1 regex-melt minus the
    # column-match step, kept by melt_unpivot + the driver-sim mirror)
    # (r7: json_props_extract rotated out — R4's JSON flatten is a native
    # from_json/getField projection with no join/shuffle of its own; the
    # native-expression kit keeps in-window evidence via regex_kit and
    # harmonize_contract's typed casts; oracle row stays green in the
    # driver-sim + pytest mirror)
    # (r7 cont.: explode_tokens rotated out — R3's explode(split) path runs
    # inside nearly every in-window text query: winnow fingerprints, the
    # curation gram explodes, both LM gates, vocab_token_count; oracle row
    # stays green in the driver-sim + pytest mirror)
    "melt_unpivot",
    # scalar kit / UDF-elimination (F1-F12, X1-X3)
    "regex_kit",
    # custom temporal/OLAP operators
    "asof_join", "range_join", "cube_stats",
    # full pipeline cascades (the reference's end product)
    "combine_pipeline", "synonym_pipeline", "meta_pipeline",
    # LLM-pipeline family representatives (r4 rotation adds the IVF-PQ
    # re-rank cascade, the incremental-ingest exact path, and the full
    # ingest dedup gauntlet E2E — exact + within-batch LSH/CC + corpus-cell
    # drop in one oracle row; r5 rotation (VERDICT r4 item 2) adds the four
    # round-4 capabilities so they earn hard driver-green rows: the trie
    # tokenizer, the semantic-dedup E2E — now running through the
    # triangle-block hot-cell guard — the dangling-mass PageRank, and the
    # contamination-safe splits)
    # (r5 cont.: incremental_dedup rotated out — its exact-window +
    # hash-index anti-join path runs INSIDE the in-window ingest_pipeline
    # E2E; the freed slot goes to curation_pipeline, the five-stage
    # quality→decontam→passage-dedup→exact-dedup→mixture cascade)
    # (r6 rotation, VERDICT r5 item 6: four double-covered slots freed —
    #  - exact_dedup out: the min-id-per-hash keeper runs INSIDE two
    #    in-window E2Es (curation_pipeline stage 4, ingest_pipeline step 1);
    #  - minhash_band_pairs out: the LSH band-pair expansion is
    #    ingest_pipeline's within-batch near-dup stage, in-window;
    #  - fuzzy_dedup_pipeline out: its pairs→CC→keeper cascade is exactly
    #    ingest_pipeline's dedup gauntlet, and the CC/keeper path also runs
    #    inside the in-window semantic_dedup_pipeline;
    #  - ann_dot_topk out: the brute-force dot/cosine path is the re-rank
    #    stage of the in-window ann_ivf_pq_topk and the baseline inside both
    #    int8 probes. All four keep oracle rows in driver-sim + pytest.)
    "multimodal_features", "window_tumbling",
    # (r6 final: curation_pipeline → curation_select_pipeline — the
    # capstone RUNS the five curation stages verbatim (its oracle nests
    # the curation SQL as a CTE) and adds the DSIR selection stage, so
    # the driver row now covers six stages instead of five;
    # curation_pipeline keeps its own oracle row in the driver-sim +
    # pytest mirror and stays the bench-headline per-stage reference)
    "ann_ivf_pq_topk", "curation_select_pipeline", "ingest_pipeline",
    "vocab_token_count", "semantic_dedup_pipeline", "pagerank_dangling",
    # (r8: contamination_safe_split rotated out — its hash-draw split
    # assignment is the md5-prefix draw machinery of the in-window
    # training_shuffle_shards, its leakage anti-join the same left-anti
    # discipline inside the in-window ingest/curation E2Es, and the
    # decontamination FAMILY's hard row is the incoming fuzzy_decontam
    # (the exact 13-gram gate also runs inside the in-window
    # curation_select_pipeline); oracle row stays green in the driver-sim
    # + pytest mirror)
    # r5 continuation: the four freed slots go to the new capabilities —
    # fixed-point BM25 retrieval, the int8 zero-shuffle ANN probe, the
    # epoch-shuffle byte-budget sharder, and CCNet-style passage dedup
    # (r6 late rotation: ann_int8_topk out — the max-abs probe is the
    # strictly-weaker sibling of the in-window ann_int8_l2_topk (same
    # quantize/de-scale machinery, same zero-Exchange plan) and the
    # re-rank baseline inside ann_ivf_pq_topk; passage_dedup out — the
    # CCNet passage-dedup stage runs INSIDE the in-window
    # curation_pipeline (stage 3) and its first-owner variant anchors the
    # in-window incremental_curation. Both keep oracle rows in the
    # driver-sim + pytest mirror.)
    "bm25_topk", "training_shuffle_shards",
    # r6: the freed slots earn hard driver-green rows for the
    # diagnose-then-act skew loop (profile + strategy pick), the
    # l2-normalized near-exact int8 probe, and the curation audit funnel
    # (r6 late: skew_diagnose rotated out — auto_salted_join_equiv RUNS the
    # same skew_profile internally to pick its branch, so the profile keeps
    # hard in-window evidence; the standalone diagnostic row stays green in
    # the driver-sim + pytest mirror)
    "auto_salted_join_equiv", "ann_int8_l2_topk",
    # (r8: curation_funnel rotated out — the funnel RUNS the same
    # barrier-pinned five-stage cascade as the in-window
    # curation_select_pipeline (which additionally drives the DSIR stage);
    # its extra per-stage counts are metadata aggregates over the pinned
    # survivor-id sets. Oracle row stays green in the driver-sim + pytest
    # mirror.)
    # r6 cont.: the two freed slots give hard driver rows to the round's
    # flagships — ExactSubstr substring dedup (detect+trim) and the
    # streaming-curation batch anchor (first-owner passage semantics)
    "substring_dedup_trim", "incremental_curation",
    # r6 late: the two freed slots give hard driver rows to the selection
    # batch's flagships — DSIR importance selection and the gate→barrier→
    # DSIR targeted-selection E2E
    # (r8: dsir_select rotated out — the in-window selection_pipeline RUNS
    # dsir_train + dsir_select verbatim as its selection stage, so the
    # DSIR scorer keeps hard in-window evidence through the E2E; the
    # standalone row stays green in the driver-sim + pytest mirror)
    "selection_pipeline",
    # r6 final rotation (the three slots freed above): hard driver rows for
    # the per-origin training-run planning table, the exact integer
    # water-filling allocator, and this round's new near-dup family —
    # winnowing fingerprint overlap (positional/containment evidence the
    # MinHash and ExactSubstr rows can't give)
    # (r8: token_budget_report rotated out — its fact-scale machinery (the
    # content-hash keeper window + token counting) keeps hard in-window
    # evidence via vocab_token_count and the exact-dedup keeper stages of
    # the in-window curation/ingest E2Es; the planning rollup itself is
    # metadata arithmetic. Oracle row stays green in the driver-sim +
    # pytest mirror.)
    "unimax_allocation",
    # (r8: winnow_near_pairs rotated out — the in-window
    # winnow_dedup_pipeline RUNS winnow_fingerprints + winnow_overlap_pairs
    # as its first two stages (same min_shared/containment machinery), so
    # the positional near-dup family keeps hard in-window evidence; the
    # standalone pair row stays green in the driver-sim + pytest mirror)
    # r7 rotation (VERDICT r6 item 2): hard driver rows for the round-6-late
    # flagships that only ever had r-sim/pytest evidence — the full MOSS
    # winnowing E2E (fingerprints → pairs → CC → keeper droplist), the
    # three-detector near-dup agreement referee, and the stupid-backoff
    # trigram LM gate
    # (r8: stupid_backoff_lm rotated out — the in-window kneser_ney_lm is
    # the strictly-harder sibling on the SAME barrier-pinned
    # unigram/bigram count-table topology and the same integer fixed-point
    # log2 scoring; unigram surprisal additionally runs inside the
    # in-window incremental_curation / curation_select_pipeline gates;
    # oracle row stays green in the driver-sim + pytest mirror)
    "winnow_dedup_pipeline", "detector_agreement",
    # r7 cont. (three double-covered slots freed above): hard driver rows
    # for this round's new capabilities — the Aho–Corasick large-blocklist
    # gate (oracle = the replace-diff form on the shared list), the
    # Kneser–Ney smoothed LM gate, and URL canonicalization (closed-form
    # oracle; url_domain_gate, its suffix-join sibling, stays mirror-
    # covered along with psi_drift_series)
    # (r8: kneser_ney_lm yields its slot to kneser_ney3_lm — the
    # strictly-harder trigram sibling whose middle order RUNS the bigram-KN
    # continuation machinery on the trigram type table, same barrier-pinned
    # count topology one order up; the bigram oracle row stays green in the
    # driver-sim + pytest mirror.)
    "phrase_blocklist_ac", "url_canonicalize",
    # r8 rotation (VERDICT r7 item 1): hard driver rows for the five
    # r7-late ops that only ever had driver-sim/pytest evidence — MinHash
    # fuzzy benchmark decontamination, the URL domain-blocklist gate
    # (suffix semi-join), the C4-style whole-domain quality drop, PSL
    # registered-domain extraction, and the streaming PSI drift series
    "fuzzy_decontam", "url_domain_gate", "domain_quality_rollup",
    "registered_domain", "psi_drift_series",
    # r8 net-new capabilities (the three slots freed above): HTML
    # main-content extraction (the pre-gate text stage, closed-form
    # oracle), the trigram Kneser–Ney filter LM, and the fasttext-shaped
    # hashed lang-ID head driving the confusion rollup
    "html_extract", "kneser_ney3_lm", "hashed_lang_confusion",
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
