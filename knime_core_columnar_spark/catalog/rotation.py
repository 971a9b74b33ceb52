"""Driver-window rotation: one freshness policy.

The driver's correctness gate checks the FIRST 50 entries of
``queries()``. ``rotate_window()`` (called once at the end of the
package import) orders the registry so that window is always:

  1. every query with NO driver CORRECTNESS row yet (first-time
     checks), by name;
  2. then driver-green queries, OLDEST evidence first and by name
     within a round — so every green row is re-verified on a bounded
     cadence.

The name tie-break makes the order a function of the registry's
contents alone: it does not depend on the order in which the family
modules register their queries.

EVIDENCE maps query name -> the latest round whose CORRECTNESS_rNN
file contains a row for it. It is regenerated by
``python tools/update_evidence.py`` (which reads the CORRECTNESS_r*
files and rewrites the dict below plus the README freshness table).
Names absent from EVIDENCE are never-checked and go first.
"""

from __future__ import annotations

from knime_core_columnar_spark.catalog._registry import ORACLES, QUERIES

# The driver checks the first WINDOW_SIZE entries of queries(). The
# driver sets that window; this package only orders the registry, and
# tools/check.py verifies every query regardless.
WINDOW_SIZE = 50

# AUTOGENERATED by tools/update_evidence.py — do not edit by hand.
EVIDENCE: dict[str, int] = {
    # round 6 (5 rows)
    "join_explosion_profile": 6, "length_bucketed_batches": 6,
    "novelty_scores": 6, "source_similarity": 6, "stream_quota_admission": 6,
    # round 7 (50 rows)
    "benford_audit": 7, "bitext_mining": 7, "bm25_topk": 7,
    "calibration_report": 7, "case_when_buckets": 7, "cdc_apply_changelog": 7,
    "collect_sorted": 7, "collocations_pmi": 7, "concentration_profile": 7,
    "containment_quotes": 7, "contrastive_pairs": 7,
    "cross_source_duplication": 7, "curriculum_order": 7, "date_funcs": 7,
    "diverse_sample": 7, "domain_stats": 7, "drift_monitor_batch": 7,
    "dup_span_apply": 7, "dup_span_extract": 7, "embedding_covariance": 7,
    "events_hourly": 7, "fix_mojibake": 7, "hll_sketch_rollup": 7,
    "html_extract_main": 7, "image_header_meta": 7, "k_anonymity_audit": 7,
    "kn_bigram_quality": 7, "leakage_safe_split": 7, "math_funcs": 7,
    "mojibake_audit": 7, "normalize_text": 7, "numeric_drift_report": 7,
    "phash_near_dup": 7, "q11_important_stock": 7, "q16_supplier_counts": 7,
    "q20_excess_inventory": 7, "q2_min_cost_supplier": 7,
    "q9_profit_by_nation_year": 7, "resample_ffill": 7, "resample_interp": 7,
    "retrieval_rbo": 7, "rm3_expanded_search": 7, "string_funcs": 7,
    "temporal_split_embargo": 7, "token_budget_plan": 7, "token_fertility": 7,
    "url_disallow_filter": 7, "vocab_growth_stats": 7, "warc_roundtrip": 7,
    "webdataset_roundtrip": 7,
    # round 8 (50 rows)
    "ann_topk": 8, "ann_topk_ivf": 8, "approx_aggregates": 8,
    "cohort_retention": 8, "component_stats": 8, "concat_regenerate": 8,
    "conditional_agg": 8, "date_spine": 8, "dedup_exact": 8,
    "dedup_minhash_lsh": 8, "dedup_paragraphs": 8, "dedup_sentence_spans": 8,
    "dedup_simhash": 8, "doc_repetition": 8, "embedding_neardup": 8,
    "exif_meta": 8, "funnel_analysis": 8, "gaps_islands": 8,
    "gopher_repetition": 8, "json_typed_extract": 8, "media_header_meta": 8,
    "multimodal_meta": 8, "neardup_clusters": 8, "neardup_pipeline": 8,
    "ngram_jaccard": 8, "normalize_nfc": 8, "partition_pruned_scan": 8,
    "pivot_returns": 8, "psl_registered_domain": 8, "quality_filter_flags": 8,
    "rearrange_cellfactory": 8, "registry_functions": 8, "scd2_intervals": 8,
    "session_windows_batch": 8, "simple_linear_workflow": 8,
    "sliding_windows_batch": 8, "split_sentences": 8, "string_agg_sorted": 8,
    "table_diff": 8, "text_quality_lang": 8, "text_stats": 8, "topk_ties": 8,
    "unpivot_metrics": 8, "video_frame_sample": 8, "warc_http_parse": 8,
    "window_first_last": 8, "window_ntile": 8, "window_range_frame": 8,
    "window_rank_stats": 8, "winnow_overlap": 8,
    # round 9 (50 rows)
    "anomaly_hours": 9, "append_hstack": 9, "audio_stats": 9,
    "boilerplate_ngrams": 9, "column_profile": 9, "concatenate_union": 9,
    "contamination_check": 9, "corpus_shuffle": 9, "correlation_matrix": 9,
    "crosstab_chi2": 9, "entity_resolution": 9, "equal_freq_binning": 9,
    "equal_width_binning": 9, "filter_rows": 9, "fim_transform": 9,
    "impute_timeseries": 9, "incremental_agg_merge": 9, "kmeans_clusters": 9,
    "knn_classify": 9, "label_coherence": 9, "language_mix_audit": 9,
    "mad_outliers": 9, "minmax_normalize": 9, "mixture_by_lang": 9,
    "multi_slice": 9, "ols_simple_regression": 9, "percentile_grid": 9,
    "pii_redact": 9, "q1_pricing_summary": 9, "q21_waiting_suppliers": 9,
    "quality_monitor_batch": 9, "referential_audit": 9,
    "regexp_extract_numbers": 9, "rfm_segments": 9, "row_index": 9,
    "segment_dedup": 9, "select_project_map": 9, "sequence_packing": 9,
    "slice_rows": 9, "source_quality_rollup": 9, "span_corruption_masks": 9,
    "spearman_corr": 9, "temperature_mixture_plan": 9, "token_shards": 9,
    "tokenize_to_ids": 9, "unigram_lm_quality": 9, "user_lifetime_stats": 9,
    "vocab_build": 9, "vocab_coverage_curve": 9, "weighted_sample": 9,
    # round 10 (49 rows)
    "array_set_ops": 10, "avro_roundtrip": 10, "bigram_lm_quality": 10,
    "cast_spec": 10, "concat_uniquify": 10, "copurchase_triangles": 10,
    "count_distinct_agg": 10, "cube_orders": 10, "curation_funnel": 10,
    "decontaminate_bloom": 10, "distinct_rows": 10, "domain_rollup": 10,
    "duplicate_span_profile": 10, "event_transitions": 10,
    "explode_words": 10, "grouping_sets": 10, "heavy_hitter_tokens": 10,
    "hybrid_search_rrf": 10, "join_anti": 10, "join_customer_orders": 10,
    "join_left_outer": 10, "join_semi": 10, "json_extract": 10, "map_ops": 10,
    "missing_value_columns": 10, "neardup_keep_longest": 10,
    "neardup_pagerank": 10, "packed_sequences_text": 10, "pct_of_total": 10,
    "percentile_stats": 10, "pq_topk_adc": 10, "q3_shipping_priority": 10,
    "q5_local_supplier": 10, "rollup_returns": 10, "semantic_dedup": 10,
    "set_except": 10, "set_intersect": 10, "sort_topk": 10,
    "stream_stream_join_batch": 10, "struct_roundtrip": 10,
    "table_checksums": 10, "training_pipeline_e2e": 10, "union_distinct": 10,
    "url_dedup_canonical": 10, "window_lag_lead": 10, "window_moving_avg": 10,
    "window_running_sum": 10, "window_topk_per_group": 10,
    "zorder_layout": 10,
    # round 11 (50 rows)
    "ann_topk_lsh": 11, "argmax_per_group": 11, "asof_forward_events": 11,
    "asof_join_events": 11, "bpe_encode": 11, "bpe_merges": 11,
    "bucketed_join": 11, "c4_line_filter": 11, "chunk_documents": 11,
    "cluster_consensus_lang": 11, "cms_frequency": 11, "corr_stats": 11,
    "curation_funnel_delta": 11, "dsir_select": 11,
    "embedding_neardup_lsh": 11, "events_dedup_latest": 11,
    "fuzzy_match_names": 11, "golden_record": 11, "gopher_rules": 11,
    "hash_split_stats": 11, "incremental_dedup_admit": 11, "iqr_outliers": 11,
    "moment_stats": 11, "png_pixel_stats": 11, "q10_returned_items": 11,
    "q12_priority_class": 11, "q13_custdist": 11, "q14_promo_revenue": 11,
    "q15_top_supplier": 11, "q17_small_qty_revenue": 11,
    "q18_large_orders": 11, "q19_disjunctive": 11, "q22_idle_balance": 11,
    "q4_order_priority": 11, "q6_forecast_revenue": 11,
    "q7_nation_volume": 11, "q8_market_share": 11, "range_join_events": 11,
    "salted_join_skew": 11, "set_similarity_join": 11,
    "source_quota_sample": 11, "stratified_sample_stats": 11,
    "tfidf_top_terms": 11, "upsert_orders": 11, "url_host_stats": 11,
    "workflow_compile_execute": 11, "workflow_dag_execute": 11,
    "workflow_join_execute": 11, "workflow_topk_execute": 11,
    "zscore_normalize": 11,
}


def rotate_window() -> list[str]:
    """Reorder QUERIES/ORACLES in place by (evidence round, name):
    never-checked first, then greens oldest evidence first. Returns the
    resulting window head. In-place clear+update is required — the
    package and its callers alias these dict objects, so rebinding
    would leave stale references."""
    order = sorted(QUERIES, key=lambda n: (EVIDENCE.get(n, 0), n))
    q = {n: QUERIES[n] for n in order}
    o = {n: ORACLES[n] for n in order if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(q)
    ORACLES.clear()
    ORACLES.update(o)
    return order[:WINDOW_SIZE]
