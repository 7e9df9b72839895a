"""Central query registry backing ``__spark_entry__.queries()`` /
``oracle_sql()``.

Every operator from SURVEY.md §2 lands here as a named builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
string over the pre-registered views.  The driver hash-compares the two at
sf0.01, so builders must be **value-deterministic**: exact decimal aggregation
for money columns, explicit rounding for derived doubles, timestamps emitted
as formatted strings, deterministic tie-breaks before any LIMIT.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Corrupt-vector contract, DuckDB side (r16; the Spark twin lives in
# ``tables.load_table``): every oracle's ``FROM embeddings`` is spliced at
# registration into this cleaned view — vectors whose sum of squares is
# finite and strictly positive, i.e. no NaN/±Inf component and not the
# zero vector.  On the driver's clean testdata the guard is a no-op; on a
# dirty corpus both engines exclude exactly the same rows instead of one
# raising DIVIDE_BY_ZERO/CAST_OVERFLOW and the other INT128 conversion
# errors.  A single registration-time transform keeps the rule uniform
# across the whole embedding family — no per-oracle drift possible.
_EMB_SS = "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))"
EMB_CLEAN_SQL = (
    "(SELECT vec_id, embedding, label FROM embeddings "
    f"WHERE isfinite({_EMB_SS}) AND {_EMB_SS} > 0)"
)


# Dirty-JSON contract, DuckDB side (r16): Spark's ``from_json`` /
# ``get_json_object`` return NULL on malformed input, but DuckDB's json
# functions RAISE ("Malformed JSON at byte 0") — so an oracle that reads
# ``events.props`` verbatim dies on the first dirty row while the engine
# sails on.  Splice a ``json_valid`` guard around every props access at
# registration: NULL-on-invalid on both engines, a no-op on the driver's
# clean testdata.
_PROPS_SAFE = "(CASE WHEN json_valid(props) THEN props END)"


def _canonicalize_oracle(sql: str) -> str:
    # Dirty-value contract (r17, found by the streaming degen sweep): a
    # props value like {"k": ""} kills BOTH engines' numeric extraction,
    # differently (DuckDB ConversionException vs Spark ANSI
    # CAST_INVALID_INPUT).  Engine side uses ``try_cast`` at every
    # props-number site; these rewrites give every oracle the matching
    # NULL-on-malformed semantics.  Must run BEFORE the props->> /
    # json_extract_string splices below so the raw patterns still match.
    sql = sql.replace(
        "CAST(json_extract_string(", "TRY_CAST(json_extract_string("
    )
    sql = sql.replace("CAST(props->>", "TRY_CAST(props->>")
    sql = sql.replace("FROM embeddings", f"FROM {EMB_CLEAN_SQL} embeddings")
    sql = sql.replace(
        "json_extract_string(props,", f"json_extract_string({_PROPS_SAFE},"
    )
    sql = sql.replace("json_extract(props,", f"json_extract({_PROPS_SAFE},")
    sql = sql.replace("props->>", f"{_PROPS_SAFE}->>")
    sql = sql.replace("json_keys(props)", f"json_keys({_PROPS_SAFE})")
    return sql


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder and its optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = _canonicalize_oracle(oracle)
        return fn

    return deco


# WITNESSED_ROUNDS — the external-verification ledger (ADVICE r6 high;
# VERDICT r6 #1/#6).  For every registered query: the rounds whose driver
# CORRECTNESS_r{N}.json passed its strongest applicable check — hash_match
# for oracled rows; a clean rows-only run for the oracle-less ones.  A row
# whose hash comparison FAILED never counts, even if its row count matched.
# The ledger is regenerated each round from the driver's own output files
# by ``tools/update_witnessed.py`` (run with --check to verify) — it
# records facts, not preferences.
#
# Query ordering is a single rule derived from it: LEAST-RECENTLY
# EXTERNALLY VERIFIED FIRST (never-verified queries lead, in registration
# order; ties broken by registration order).  The external gate budgets a
# fixed number of checks per round, so this order maximizes how quickly
# every query accumulates an external witness and guarantees that NEWLY
# REGISTERED queries enter the checked set before anything already verified
# — new code can never hide behind old green rows.  The previous hand-tuned
# priority list is gone; there is nothing to tune — landing a new query or
# a new driver round updates the order mechanically.
WITNESSED_ROUNDS: dict[str, tuple[int, ...]] = {
    "q10_returned_item_revenue": (14,),
    "q12_shipping_delay_priority": (17, 18),
    "q13_order_count_distribution": (15,),
    "q14_promo_revenue_share": (14,),
    "q16_supplier_part_variety": (17, 18),
    "q18_large_volume_orders": (15,),
    "q19_disjunctive_revenue": (17, 18),
    "q1_pricing_summary": (1, 2, 3, 4, 5, 6, 8, 11),
    "q21_suppliers_kept_waiting": (17, 18),
    "q22_dormant_high_balance": (17, 18),
    "q3_top_revenue_orders": (1, 2, 3, 4, 5, 6, 8, 11),
    "q4_order_priority_check": (17, 18),
    "q5_revenue_by_nation": (1, 2, 3, 4, 5, 6, 8, 11),
    "q6_forecast_revenue": (17, 18),
    "q7_nation_volume_shipping": (14,),
    "q9_product_type_profit": (17, 18),
    "q_acf_profile": (17, 18),
    "q_adamic_adar_linkpred": (16, 17, 18),
    "q_ann_recall_audit": (10, 13, 16),
    "q_ann_verify_rerank": (6, 9, 12, 16),
    "q_anti_join_dormant_customers": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_argmin_supplier_per_part": (15,),
    "q_asof_advised": (17, 18),
    "q_asof_purchase_last_view": (1, 2, 3, 4, 6, 9, 12, 13),
    "q_asof_two_phase_scalable": (13, 14),
    "q_association_rules": (13, 16, 17, 18),
    "q_autocorr_lag1": (15,),
    "q_bbox_area_filter": (2, 3, 4, 5, 8, 11),
    "q_bbox_area_topk": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_bbox_containment": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_benford_digit_audit": (15,),
    "q_bigram_lm_fluency": (7, 10, 14),
    "q_bitext_margin_mining": (9, 10, 13, 16),
    "q_bitext_margin_mining_ivf": (10, 13, 16),
    "q_bloom_prefilter_join": (8, 11),
    "q_bm25_keyword_search": (2, 3, 4, 5, 8, 11, 17, 18),
    "q_bpe_train_step": (9, 13),
    "q_brier_decomposition": (16,),
    "q_calibration_ece_bins": (11, 14, 16),
    "q_cdc_chunk_dedup": (7, 10, 14, 17, 18),
    "q_changeset_comments_explode": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_changeset_ingest_normalize": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_changeset_join_comments": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_charclass_entropy": (14,),
    "q_chi2_independence": (15,),
    "q_cluster_silhouette": (15, 16),
    "q_cohens_kappa_langid": (15,),
    "q_cohort_retention": (7, 11),
    "q_containment_pairs": (14, 17, 18),
    "q_contamination_ngram_overlap": (5, 8, 11, 17, 18),
    "q_context_window_plan": (13,),
    "q_countmin_estimates": (9, 10, 15),
    "q_countmin_sketch_only": (10, 15),
    "q_cross_source_leakage": (12, 17, 18),
    "q_cube_order_status_priority": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_cusum_changepoint": (15,),
    "q_data_quality_expectations": (17, 18),
    "q_dedup_exact": (1, 2, 3, 4, 5, 6, 8, 11, 16),
    "q_dedup_exact_counts": (1, 2, 3, 4, 5, 7, 10, 14, 16),
    "q_dedup_groups": (2, 3, 4, 5, 6, 8, 9, 12, 17, 18),
    "q_dedup_threshold_sweep": (11, 16),
    "q_distinct_counts": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_distinct_ngram_diversity": (12, 13, 16),
    "q_domain_rollup": (17, 18),
    "q_doremi_mixture_step": (12, 13),
    "q_dsir_importance_weights": (7, 10, 14),
    "q_dup_cluster_histogram": (13, 17, 18),
    "q_duplicate_substring_spans": (7, 10, 13, 16),
    "q_ease_grid_project": (13,),
    "q_effective_sample_size": (15,),
    "q_embedding_ann_checked": (6, 9, 12, 16),
    "q_embedding_ann_ivf": (1, 7, 9, 12),
    "q_embedding_ann_ivf_checked": (8, 11, 15, 16),
    "q_embedding_ann_lsh": (1, 7, 9, 12, 18),
    "q_embedding_binary_hamming": (12, 16),
    "q_embedding_centroid_per_label": (1, 2, 3, 4, 7, 9, 12, 16),
    "q_embedding_dim_moments": (12, 13, 16),
    "q_embedding_int8_quantize": (9, 12),
    "q_embedding_neardup_cosine": (1, 7, 9, 11, 15, 16, 18),
    "q_embedding_pca_power": (7, 9, 12, 16),
    "q_embedding_pq_adc": (8, 11, 15, 16),
    "q_embedding_random_projection": (8, 11, 16),
    "q_embedding_topk_cosine": (1, 2, 3, 4, 7, 9, 10, 13, 16),
    "q_fano_burstiness": (15,),
    "q_fellegi_sunter_scores": (15,),
    "q_funnel_conversion": (7, 10, 15),
    "q_funnel_time_to_convert": (14,),
    "q_fuzzy_name_pairs": (9, 12),
    "q_gini_user_concentration": (14,),
    "q_grouping_sets_order_stats": (1, 2, 3, 4, 6, 9, 12),
    "q_hard_negative_mining": (8, 11, 16),
    "q_heavy_hitter_terms": (7, 10, 15),
    "q_hhi_concentration": (15,),
    "q_hits_bipartite": (14, 16, 17, 18),
    "q_hourly_ohlc": (14,),
    "q_hybrid_rrf_search": (11, 17, 18),
    "q_incremental_hash_dedup": (11, 17, 18),
    "q_incremental_minhash_neardup": (12, 13, 17, 18),
    "q_interarrival_stats": (15,),
    "q_intersect_segments": (1, 2, 3, 4, 5, 8, 12),
    "q_item_cooccurrence": (7, 10, 14, 16, 17, 18),
    "q_ivf_index_maintenance": (16,),
    "q_jensen_shannon_drift": (17, 18),
    "q_json_typed_extract": (6, 9, 13),
    "q_jsonl_ingest_audit": (11,),
    "q_kanonymity_risk": (14,),
    "q_kcore_items": (8, 11, 16, 17, 18),
    "q_kendall_tau_hourly": (17, 18),
    "q_kmeans_assign_update": (7, 9, 12, 16),
    "q_kneser_ney_bigram": (14,),
    "q_knn_label_accuracy": (16,),
    "q_ks_value_drift": (14, 15),
    "q_label_balance_downsample": (13,),
    "q_label_propagation": (8, 11, 16, 17, 18),
    "q_ldiversity_risk": (15,),
    "q_length_bucket_packing": (14,),
    "q_like_part_types": (2, 3, 4, 7, 10, 15),
    "q_line_dedup_c4": (7, 10, 14),
    "q_mann_whitney_u": (15,),
    "q_map_explode_tag_histogram": (6, 9, 13),
    "q_map_key_existence": (1, 6, 9, 12),
    "q_map_value_extract": (6, 9, 13),
    "q_map_value_like": (6, 9, 13),
    "q_market_share_by_nation": (13,),
    "q_matryoshka_truncation_audit": (11,),
    "q_max_drawdown": (15,),
    "q_media_shard_manifest": (7, 9, 12),
    "q_minhash_estimate_error_audit": (10, 11, 13, 17, 18),
    "q_minhash_lsh_candidates": (1, 2, 3, 4, 5, 7, 10, 14),
    "q_minhash_lsh_checked": (5, 6, 8, 10, 13, 16),
    "q_mmr_diversified_rerank": (11, 16),
    "q_multimodal_audio_stats": (14,),
    "q_multimodal_byte_stats": (2, 3, 4, 5, 8, 11),
    "q_multimodal_decode": (1, 2, 3, 4, 5, 8, 11, 12),
    "q_multimodal_decode_real": (13,),
    "q_multimodal_png_stats": (15,),
    "q_multimodal_qoi_stats": (17, 18),
    "q_multimodal_resize": (12,),
    "q_multitouch_attribution": (13, 14),
    "q_neardup_canonical": (8, 9, 12, 17, 18),
    "q_neardup_verify_jaccard": (2, 3, 4, 5, 7, 10, 14, 16),
    "q_ngram_jaccard_pairs": (1, 2, 3, 4, 5, 7, 10, 14, 16),
    "q_ngram_novelty": (7, 10, 14, 16),
    "q_orders_per_month": (1, 2, 3, 4, 7, 10, 15),
    "q_outer_join_order_counts": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_pagerank_items": (7, 10, 14, 16, 17, 18),
    "q_pareto_frontier_docs": (15,),
    "q_part_value_share": (15,),
    "q_phrase_search": (9, 12),
    "q_pii_redaction_stats": (9, 12),
    "q_pipeline_curate_end_to_end": (5, 6, 8, 11, 17),
    "q_pivot_status_by_priority": (1, 2, 3, 4, 6, 9, 12),
    "q_pmi_collocations": (14,),
    "q_ppjoin_similar_docs": (9, 10, 14, 17, 18),
    "q_pps_systematic_sample": (9, 12),
    "q_prf_expansion_terms": (13, 17, 18),
    "q_priority_sample_topk": (10, 15),
    "q_psi_value_drift": (15,),
    "q_quality_classifier_train_step": (17, 18),
    "q_quality_percentile_gate": (8, 11),
    "q_quality_rule_attribution": (11,),
    "q_rag_chunk_overlap": (7, 10, 14),
    "q_range_join_shipments_in_window": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_readability_scores": (16,),
    "q_readme_count_comment_tag": (2, 3, 4, 5, 6, 8, 11),
    "q_readme_count_created_by_josm": (2, 3, 4, 5, 7, 9, 12),
    "q_readme_envelope_containment": (2, 3, 4, 5, 6, 8, 11),
    "q_referential_integrity_audit": (15, 16),
    "q_rendezvous_shard_balance": (15,),
    "q_retrieval_mrr_eval": (14, 17, 18),
    "q_retrieval_ndcg_eval": (12, 13, 17, 18),
    "q_rollup_nation_segment": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_salted_join_skewed_types": (1, 7, 10, 15),
    "q_scd2_priority_history": (9, 12),
    "q_seasonality_profile": (13,),
    "q_semantic_outlier_docs": (14, 16),
    "q_semdedup_clustered": (7, 9, 12, 16),
    "q_semdedup_ivf": (9, 12, 16),
    "q_semi_join_active_customers": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_sequence_packing": (7, 10, 14),
    "q_series_ewma": (7, 10, 15),
    "q_series_linear_trend": (7, 10, 15),
    "q_session_advised": (17, 18),
    "q_session_two_phase_scalable": (13, 14),
    "q_set_ops_customer_cohorts": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_simhash_checked": (5, 6, 8, 11),
    "q_simhash_near_dup": (1, 2, 3, 4, 5, 7, 10, 14, 17, 18),
    "q_sketch_cardinality_and_quantiles": (1, 7, 10, 15),
    "q_skew_advised_salted_join": (12,),
    "q_skew_key_advisor": (11,),
    "q_small_quantity_revenue": (13,),
    "q_source_mixture_weights": (5, 8, 11),
    "q_source_quota_sample": (2, 3, 4, 5, 8, 11),
    "q_source_vocab_overlap": (15,),
    "q_spearman_hourly_correlation": (15,),
    "q_stratified_sample_neyman": (10, 14),
    "q_stream_dedup_first_seen": (6, 9, 13),
    "q_stream_dedup_reemit_after_expiry": (13,),
    "q_stream_hourly_ohlc": (15,),
    "q_stream_incremental_dedup": (11,),
    "q_stream_join_left_outer_expiry": (13,),
    "q_stream_late_data_drop": (12, 13),
    "q_stream_purchase_attribution": (6, 9, 13),
    "q_stream_rollup_hourly": (6, 9, 13),
    "q_stream_session_windows": (6, 9, 13),
    "q_stream_sliding_2h_1h": (6, 9, 13),
    "q_stream_stateful_user_totals": (6, 9, 13),
    "q_stream_tumbling_hourly": (6, 9, 13),
    "q_subsample_stability_ci": (15,),
    "q_table_profile": (9, 12),
    "q_tcloseness_risk": (17, 18),
    "q_temperature_mixture": (7, 10, 15),
    "q_temporal_split_audit": (15,),
    "q_text_blocklist_scrub": (5, 8, 11),
    "q_text_fingerprint": (1, 2, 3, 4, 5, 7, 10, 14, 16),
    "q_text_lang_id_confusion": (1, 2, 3, 4, 5, 7, 10, 14),
    "q_text_quality": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_text_quality_by_source": (1, 2, 3, 4, 5, 7, 10, 14),
    "q_text_repetition_quality": (5, 8, 11, 12, 13, 14, 17),
    "q_text_token_budget_by_source": (5, 7, 10, 14),
    "q_text_token_stats": (2, 3, 4, 5, 7, 10, 14),
    "q_tfidf_top_terms": (2, 3, 4, 5, 8, 11, 17, 18),
    "q_theil_index_concentration": (17, 18),
    "q_time_gapfill_interpolate": (7, 10, 15),
    "q_time_gapfill_locf": (7, 10, 15),
    "q_token_len_histogram": (7, 10, 14),
    "q_tokenizer_fertility": (15, 16),
    "q_train_test_split": (2, 3, 4, 5, 8, 11),
    "q_transition_entropy": (17, 18),
    "q_triangle_count": (7, 10, 14, 16, 17, 18),
    "q_txn_change_feed": (12,),
    "q_txn_merge_snapshot": (6, 9, 13),
    "q_type_transition_matrix": (7, 11),
    "q_unigram_drift_kl": (12, 17, 18),
    "q_unigram_prob_mass": (7, 10, 14),
    "q_unpivot_quantity_price": (1, 2, 3, 4, 7, 10, 15),
    "q_upsert_last_write_wins": (1, 2, 3, 4, 5, 6, 8, 11),
    "q_user_value_deciles": (7, 9, 13),
    "q_value_mad_outliers": (7, 10, 15),
    "q_value_percentiles_per_type": (1, 6, 9, 12),
    "q_vocab_growth": (8, 9, 10, 14, 16),
    "q_vocab_growth_sketched": (9, 10, 14),
    "q_vocab_prune_coverage": (13, 14, 16),
    "q_welch_ttest_cohorts": (15,),
    "q_window_running_total": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_window_session_per_user": (6, 9, 13),
    "q_window_sliding": (6, 9, 13),
    "q_window_topk_orders_per_customer": (1, 2, 3, 4, 5, 6, 8, 12),
    "q_window_trailing_hour_sum": (6, 9, 13),
    "q_window_tumbling_hourly": (6, 9, 13),
    "q_winnowed_fingerprints": (7, 10, 13, 16, 17, 18),
    "q_winsorized_stats": (14,),
    "q_zipf_fit_audit": (12, 16),
    "q_zorder_layout": (8, 11),
}


# WITNESSED_FINGERPRINTS — the implementation each witness actually saw
# (VERDICT r8 #3: the rounds ledger alone keys rotation on *witness*
# recency, not *code-change* recency, so a query reworked after its last
# witness could rotate OUT of the window and the driver would never
# hash-check the new implementation).  For every query: a short hash of
# the builder's source (decorator included, so the oracle SQL is covered
# too) captured by ``tools/update_witnessed.py`` at the regen that
# recorded its most recent witness.  A query whose CURRENT fingerprint
# differs from the stamped one sorts as if never witnessed — changed code
# always re-enters the gate window before anything merely old.  The regen
# rule keeps this factual: the stamp is refreshed ONLY when a new round is
# added to the query's rounds tuple (the driver just ran the current
# code); otherwise the old stamp is carried forward, preserving the
# mismatch for code edited after its last witness.
WITNESSED_FINGERPRINTS: dict[str, str] = {
    "q10_returned_item_revenue": "fb740dc41912",
    "q12_shipping_delay_priority": "6e7b5a2f530e",
    "q13_order_count_distribution": "dd6e149003a7",
    "q14_promo_revenue_share": "bee08938dc59",
    "q16_supplier_part_variety": "ad21a74b4a84",
    "q18_large_volume_orders": "df1f0b07071e",
    "q19_disjunctive_revenue": "b582b8c945e4",
    "q1_pricing_summary": "924990a78492",
    "q21_suppliers_kept_waiting": "f9619d80b0ff",
    "q22_dormant_high_balance": "7a468e781579",
    "q3_top_revenue_orders": "5c4ef681d492",
    "q4_order_priority_check": "ce033050a09e",
    "q5_revenue_by_nation": "04cb5b299f24",
    "q6_forecast_revenue": "61b14887ca57",
    "q7_nation_volume_shipping": "a60d0221c1ec",
    "q9_product_type_profit": "eed921ed75dc",
    "q_acf_profile": "9f5a0182bcc4",
    "q_adamic_adar_linkpred": "900d75f5d65e",
    "q_ann_recall_audit": "5200ea1d4126",
    "q_ann_verify_rerank": "0bbf3dea0ed3",
    "q_anti_join_dormant_customers": "26563d35570d",
    "q_argmin_supplier_per_part": "4faa4e3ba1de",
    "q_asof_advised": "3094a126cb2b",
    "q_asof_purchase_last_view": "b1fdf5f673b3",
    "q_asof_two_phase_scalable": "6237fa649e5e",
    "q_association_rules": "e1375a5c08a0",
    "q_autocorr_lag1": "da5d7ee1fbcc",
    "q_bbox_area_filter": "e115f940f1c9",
    "q_bbox_area_topk": "7e12375eb8e2",
    "q_bbox_containment": "2b389e133bd7",
    "q_benford_digit_audit": "a819fa37d454",
    "q_bigram_lm_fluency": "6a3bbc058f88",
    "q_bitext_margin_mining": "7b132a5f56e7",
    "q_bitext_margin_mining_ivf": "7f228fec7adb",
    "q_bloom_prefilter_join": "169b7231bb6c",
    "q_bm25_keyword_search": "5e5e036e10da",
    "q_bpe_train_step": "c04762ebe930",
    "q_brier_decomposition": "9f290985aeb8",
    "q_calibration_ece_bins": "db7f7e5b739e",
    "q_cdc_chunk_dedup": "abc7e54a7a90",
    "q_changeset_comments_explode": "e28cdf81faff",
    "q_changeset_ingest_normalize": "91a73d69bd16",
    "q_changeset_join_comments": "67e155a3df90",
    "q_charclass_entropy": "3a322737188e",
    "q_chi2_independence": "cd0f83650244",
    "q_cluster_silhouette": "6387c07a69e0",
    "q_cohens_kappa_langid": "bcdf0d9dfec0",
    "q_cohort_retention": "0e48ae730a60",
    "q_containment_pairs": "3b34327c435e",
    "q_contamination_ngram_overlap": "db3520e8a12b",
    "q_context_window_plan": "55c715982d63",
    "q_countmin_estimates": "8797ed161fdc",
    "q_countmin_sketch_only": "fb8a34413f0a",
    "q_cross_source_leakage": "0ccb2c609a2a",
    "q_cube_order_status_priority": "51c528e2fa11",
    "q_cusum_changepoint": "fe9940e63ee7",
    "q_data_quality_expectations": "23580ba13166",
    "q_dedup_exact": "69f8810960ce",
    "q_dedup_exact_counts": "ce5c6051cf4e",
    "q_dedup_groups": "6dae2fbb6227",
    "q_dedup_threshold_sweep": "30d99b9c0411",
    "q_distinct_counts": "b7644aa98416",
    "q_distinct_ngram_diversity": "791b004f0476",
    "q_domain_rollup": "0c243eda92bb",
    "q_doremi_mixture_step": "e9a8fa0524cb",
    "q_dsir_importance_weights": "e894c9ce8d97",
    "q_dup_cluster_histogram": "231cd29829a9",
    "q_duplicate_substring_spans": "e5d5d3bedaed",
    "q_ease_grid_project": "d99b140e38da",
    "q_effective_sample_size": "0455340a4647",
    "q_embedding_ann_checked": "e1599ac4fe95",
    "q_embedding_ann_ivf": "77f3261e726c",
    "q_embedding_ann_ivf_checked": "1165a0f691fc",
    "q_embedding_ann_lsh": "cb9e615fadd0",
    "q_embedding_binary_hamming": "062b54315542",
    "q_embedding_centroid_per_label": "12de276ffea1",
    "q_embedding_dim_moments": "0ad1e8bf51e7",
    "q_embedding_int8_quantize": "7e2ee87b3d9e",
    "q_embedding_neardup_cosine": "c2de78769650",
    "q_embedding_pca_power": "86bc9ea39f9b",
    "q_embedding_pq_adc": "91faa58703f9",
    "q_embedding_random_projection": "1fef7198eccd",
    "q_embedding_topk_cosine": "62f42843e676",
    "q_fano_burstiness": "b998a72dd527",
    "q_fellegi_sunter_scores": "8a801e5552ac",
    "q_funnel_conversion": "4937330f3d66",
    "q_funnel_time_to_convert": "fef06c905236",
    "q_fuzzy_name_pairs": "9916cde5e5df",
    "q_gini_user_concentration": "1aa2519fc92a",
    "q_grouping_sets_order_stats": "9a27415adf92",
    "q_hard_negative_mining": "b2ab16181eb9",
    "q_heavy_hitter_terms": "7da4342493b1",
    "q_hhi_concentration": "7fac3faf1886",
    "q_hits_bipartite": "e452283cacb0",
    "q_hourly_ohlc": "8bc8718a7dfa",
    "q_hybrid_rrf_search": "d3f1f35969e9",
    "q_incremental_hash_dedup": "a17f4089aff6",
    "q_incremental_minhash_neardup": "b5b24d3de914",
    "q_interarrival_stats": "42fe74ad3c51",
    "q_intersect_segments": "d91bac44493f",
    "q_item_cooccurrence": "a0e128e561d9",
    "q_ivf_index_maintenance": "6a0454853522",
    "q_jensen_shannon_drift": "455173970e6d",
    "q_json_typed_extract": "c88841a31644",
    "q_jsonl_ingest_audit": "2f2bcb96b9b1",
    "q_kanonymity_risk": "3b19a6b60514",
    "q_kcore_items": "6e875abe214f",
    "q_kendall_tau_hourly": "b9446ab8cfdf",
    "q_kmeans_assign_update": "1fe8a61ef101",
    "q_kneser_ney_bigram": "bf7ea302fa77",
    "q_knn_label_accuracy": "a49ce254e539",
    "q_ks_value_drift": "29cc66620faa",
    "q_label_balance_downsample": "a691146629bd",
    "q_label_propagation": "76acd73d3621",
    "q_ldiversity_risk": "4ee1510783e8",
    "q_length_bucket_packing": "5f5c45809b4e",
    "q_like_part_types": "9d4e6f50083c",
    "q_line_dedup_c4": "38a12ec1b5bf",
    "q_mann_whitney_u": "cbadd52b285e",
    "q_map_explode_tag_histogram": "e00e31aa3c4b",
    "q_map_key_existence": "8c8f6be9009b",
    "q_map_value_extract": "ff6e348356a3",
    "q_map_value_like": "e0dfef91f1e6",
    "q_market_share_by_nation": "d003551182db",
    "q_matryoshka_truncation_audit": "a7836b0b556b",
    "q_max_drawdown": "9b3e7bf50907",
    "q_media_shard_manifest": "75af061d14f8",
    "q_minhash_estimate_error_audit": "18138330e65d",
    "q_minhash_lsh_candidates": "c0b664190cc7",
    "q_minhash_lsh_checked": "bfad5406219e",
    "q_mmr_diversified_rerank": "56f0d42ee9db",
    "q_multimodal_audio_stats": "cb61d3adab76",
    "q_multimodal_byte_stats": "696c11b57902",
    "q_multimodal_decode": "2bbb5633523b",
    "q_multimodal_decode_real": "3e62be6c2fd5",
    "q_multimodal_png_stats": "7e97f8e27d2a",
    "q_multimodal_qoi_stats": "83382fd79331",
    "q_multimodal_resize": "7f480e96df0f",
    "q_multitouch_attribution": "d74ed0f4a02f",
    "q_neardup_canonical": "373eca753a62",
    "q_neardup_verify_jaccard": "b04fc8e4c144",
    "q_ngram_jaccard_pairs": "9a0b3e944b9a",
    "q_ngram_novelty": "3d27bd2010d0",
    "q_orders_per_month": "2e7c84bb0ae9",
    "q_outer_join_order_counts": "149621fc6479",
    "q_pagerank_items": "288257f435ea",
    "q_pareto_frontier_docs": "93ed5f9cff76",
    "q_part_value_share": "8ca62c27496e",
    "q_phrase_search": "7517698e473e",
    "q_pii_redaction_stats": "f5899ceda80a",
    "q_pipeline_curate_end_to_end": "99d545881fb5",
    "q_pivot_status_by_priority": "8de452afe200",
    "q_pmi_collocations": "6cf695c72413",
    "q_ppjoin_similar_docs": "c434cea26b24",
    "q_pps_systematic_sample": "4d89e3d292ab",
    "q_prf_expansion_terms": "a61cd958b5f2",
    "q_priority_sample_topk": "99c7ac328f46",
    "q_psi_value_drift": "875b0c4aff87",
    "q_quality_classifier_train_step": "332279d63718",
    "q_quality_percentile_gate": "cff9f3163c44",
    "q_quality_rule_attribution": "ae3c2aeae9e9",
    "q_rag_chunk_overlap": "dc7e8f6bf33d",
    "q_range_join_shipments_in_window": "b11f59c7709e",
    "q_readability_scores": "5945b333496e",
    "q_readme_count_comment_tag": "1b73c20ac6cb",
    "q_readme_count_created_by_josm": "9846bd27b0dd",
    "q_readme_envelope_containment": "e5e856460749",
    "q_referential_integrity_audit": "2446aa1bd816",
    "q_rendezvous_shard_balance": "062149072c91",
    "q_retrieval_mrr_eval": "95cf457d110d",
    "q_retrieval_ndcg_eval": "385a6a129768",
    "q_rollup_nation_segment": "fcaca532c4ef",
    "q_salted_join_skewed_types": "acf413b1e8a6",
    "q_scd2_priority_history": "715bbb6d6636",
    "q_seasonality_profile": "a5aea350f69d",
    "q_semantic_outlier_docs": "54c4c300ea88",
    "q_semdedup_clustered": "0176322a3adf",
    "q_semdedup_ivf": "8b8a3fb91924",
    "q_semi_join_active_customers": "887971e96ad2",
    "q_sequence_packing": "dcf8880efab6",
    "q_series_ewma": "35d891ee96e8",
    "q_series_linear_trend": "cb4906c6ba1d",
    "q_session_advised": "812a1ec517ce",
    "q_session_two_phase_scalable": "d53d1a69ee72",
    "q_set_ops_customer_cohorts": "c1752c02ad53",
    "q_simhash_checked": "5dbf1427fcac",
    "q_simhash_near_dup": "640e7bedb6fa",
    "q_sketch_cardinality_and_quantiles": "cee511b11934",
    "q_skew_advised_salted_join": "23c88262d56b",
    "q_skew_key_advisor": "e36841a71795",
    "q_small_quantity_revenue": "30c291f54d7a",
    "q_source_mixture_weights": "b86df1b022e7",
    "q_source_quota_sample": "1f58f856167f",
    "q_source_vocab_overlap": "936a00075c7b",
    "q_spearman_hourly_correlation": "0e0d9ad129e9",
    "q_stratified_sample_neyman": "c5bd5627e0df",
    "q_stream_dedup_first_seen": "76cbd611d070",
    "q_stream_dedup_reemit_after_expiry": "c5644eb25b27",
    "q_stream_hourly_ohlc": "7ba20768d159",
    "q_stream_incremental_dedup": "ed995d3b2341",
    "q_stream_join_left_outer_expiry": "7b066a5169db",
    "q_stream_late_data_drop": "fa5d8f49da61",
    "q_stream_purchase_attribution": "b4c25510793c",
    "q_stream_rollup_hourly": "91bb1034b91c",
    "q_stream_session_windows": "67157ecc744e",
    "q_stream_sliding_2h_1h": "ae6b35072d48",
    "q_stream_stateful_user_totals": "4588e76adc5c",
    "q_stream_tumbling_hourly": "2eb91d1ad4db",
    "q_subsample_stability_ci": "3cf85d272770",
    "q_table_profile": "f84b829d00c7",
    "q_tcloseness_risk": "d26bc55b323e",
    "q_temperature_mixture": "9331bcd9a47b",
    "q_temporal_split_audit": "e1e878a5d369",
    "q_text_blocklist_scrub": "468932933668",
    "q_text_fingerprint": "053f2a65066d",
    "q_text_lang_id_confusion": "b204de6407b2",
    "q_text_quality": "ec87d2dd2a86",
    "q_text_quality_by_source": "1ca2f822686d",
    "q_text_repetition_quality": "f4dc94f0676c",
    "q_text_token_budget_by_source": "f4654a67165a",
    "q_text_token_stats": "07d0fcb5eba1",
    "q_tfidf_top_terms": "82c31473b540",
    "q_theil_index_concentration": "8ae1973e516e",
    "q_time_gapfill_interpolate": "07691491e86c",
    "q_time_gapfill_locf": "a5d2a5666d50",
    "q_token_len_histogram": "c9c4c0b4f98e",
    "q_tokenizer_fertility": "3f0ba0b22f54",
    "q_train_test_split": "cec82ef6be65",
    "q_transition_entropy": "ca23a1268af8",
    "q_triangle_count": "16a7dd98b3fe",
    "q_txn_change_feed": "2d2d27434982",
    "q_txn_merge_snapshot": "37e57683a294",
    "q_type_transition_matrix": "8c2ffed88a00",
    "q_unigram_drift_kl": "ac44bcdaf474",
    "q_unigram_prob_mass": "956bc7deacf6",
    "q_unpivot_quantity_price": "019a7ec3945b",
    "q_upsert_last_write_wins": "f4f914c525c2",
    "q_user_value_deciles": "08499d201391",
    "q_value_mad_outliers": "76767b7f944e",
    "q_value_percentiles_per_type": "db145439f0ba",
    "q_vocab_growth": "6d85065238b9",
    "q_vocab_growth_sketched": "cb7d63b54367",
    "q_vocab_prune_coverage": "8cc936341ad4",
    "q_welch_ttest_cohorts": "5facc07d6d5d",
    "q_window_running_total": "07f6b6a670fc",
    "q_window_session_per_user": "1cb3d953f1c8",
    "q_window_sliding": "1f71aa30c65f",
    "q_window_topk_orders_per_customer": "9bd5767bcdc7",
    "q_window_trailing_hour_sum": "c63920d26d47",
    "q_window_tumbling_hourly": "1d16e1c77c37",
    "q_winnowed_fingerprints": "d6bf533e7fcb",
    "q_winsorized_stats": "3fb7c38862c2",
    "q_zipf_fit_audit": "9ca3d9a7ac88",
    "q_zorder_layout": "562293014cd1",
}


def _fingerprint(name: str) -> str:
    """Hash of a registered builder's current implementation: its source
    span (``inspect.getsource`` includes the ``@register`` decorator and
    therefore the oracle expression) plus the resolved oracle string, so
    an oracle-only edit re-fingerprints too."""
    import hashlib
    import inspect

    fn = _QUERIES[name]
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # builders defined in a REPL/test double
        src = fn.__code__.co_code.hex()
    payload = src + "\x00" + _ORACLES.get(name, "")
    return hashlib.sha256(payload.encode()).hexdigest()[:12]


def effective_last_witness(name: str) -> int:
    """Last round whose external witness still covers the CURRENT
    implementation: 0 when never witnessed, and 0 when the stamped
    fingerprint no longer matches the live code (the witness refers to a
    dead implementation, so the query must re-enter the window)."""
    rounds = WITNESSED_ROUNDS.get(name, ())
    if not rounds:
        return 0
    fp = WITNESSED_FINGERPRINTS.get(name)
    if fp is not None and fp != _fingerprint(name):
        return 0
    return max(rounds)


def _window_ordered(d: dict) -> dict:
    """Return ``d`` ordered least-recently-externally-verified first;
    registration order breaks ties (the sort is stable).  Within the
    never-effectively-witnessed head group, queries with NO witness at all
    sort before changed-since-witness ones (VERDICT r16 #1): a brand-new
    query has zero external evidence, while a reworked one at least had a
    past hash-green run on a close ancestor — when the head group exceeds
    the driver's ~50-slot window, first-exposure risk drains first."""
    names = sorted(
        d,
        key=lambda n: (
            effective_last_witness(n),
            1 if WITNESSED_ROUNDS.get(n) else 0,
        ),
    )
    return {n: d[n] for n in names}


def _load_all() -> None:
    # import for registration side effects; keep cheap (no Spark work at import)
    from .operators import (  # noqa: F401
        bitext,
        bloomjoin,
        calibration,
        changesets,
        cooccurrence,
        corpus,
        curation,
        dedup,
        fuzzy,
        geometry,
        layout,
        mlstep,
        multimodal,
        phrase,
        pii,
        privacy,
        profile,
        quantize,
        rangejoin,
        relational,
        sampling,
        scd,
        similarity,
        sketches,
        skew,
        tags_json,
        text,
        tokenizer,
        txn,
        web,
        windows_batch,
    )
    from .sources import jsonl_source  # noqa: F401
    from .streaming import events_stream, joins, rollup, stateful  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _window_ordered(_QUERIES)


def oracles() -> dict[str, str]:
    _load_all()
    return _window_ordered(_ORACLES)
