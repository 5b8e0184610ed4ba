"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship medallion-style rollup at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (plus the scale/extension operators of §7 step 9);
``oracle_sql()`` gives the DuckDB-equivalent SQL for each hash-checkable
query. Implementations live in ``global_seismic_data_pipeline_spark``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from global_seismic_data_pipeline_spark.plans import (
    oracles,
    oracles_ext,
    workloads,
    workloads_ext,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return workloads.flagship_regional_rollup(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver's correctness record samples the FIRST 50 keys. Rounds
    8-11 rotated the ordering to cycle never-sampled families through
    the driver's audit; after round 11 every family has a driver-green
    record, so the first-50 list below is FROZEN as of round 12 (r11
    VERDICT item 6) — do not rotate it again. Round-over-round
    correctness diffs need a stable sample (n_common = 50)."""
    q = {
        "flagship_regional_rollup": workloads.flagship_regional_rollup,
        "dedup_keep_latest": workloads.dedup_keep_latest,
        "window_priority_pick": workloads.window_priority_pick,
        "rolling_daily_metrics": workloads.rolling_daily_metrics,
        "dense_rank_nations": workloads.dense_rank_nations,
        "spatial_box_enrich": workloads.spatial_box_enrich,
        "anti_join_inactive_customers": workloads.anti_join_inactive_customers,
        "quality_null_audit": workloads.quality_null_audit,
        "watermark_incremental_filter": workloads.watermark_incremental_filter,
        "validate_and_clean": workloads.validate_and_clean,
        "temporal_features": workloads.temporal_features,
        "physics_suite": workloads.physics_suite,
        "physics_damage_summary": workloads.physics_damage_summary,
        "rollup_orders": workloads.rollup_orders,
        "approx_distinct_users": workloads.approx_distinct_users,
        "setops_purchasers": workloads.setops_purchasers,
        "sessionize_users": workloads.sessionize_users,
        # --- extension operators (LLM-data-pipeline + event windows) ---
        "text_quality_score": workloads_ext.text_quality_score,
        "text_language_id": workloads_ext.text_language_id,
        "exact_dedup_docs": workloads_ext.exact_dedup_docs,
        "scalable_rank_parts": workloads_ext.scalable_rank_parts,
        "scd2_user_value_history": workloads_ext.scd2_user_value_history,
        "approx_price_quantiles": workloads_ext.approx_price_quantiles,
        "bm25_search_docs": workloads_ext.bm25_search_docs,
        "minhash_near_dup": workloads_ext.minhash_near_dup,
        "semdedup_prune_embeddings": workloads_ext.semdedup_prune_embeddings,
        "bpe_learn_merges": workloads_ext.bpe_learn_merges,
        "delta_roundtrip_orders": workloads_ext.delta_roundtrip_orders,
        "rollup_multigrain_orders": workloads_ext.rollup_multigrain_orders,
        "iceberg_v2_deletes_roundtrip": workloads_ext.iceberg_v2_deletes_roundtrip,
        "cosine_topk_bruteforce": workloads_ext.cosine_topk_bruteforce,
        "iceberg_upsert_orders": workloads_ext.iceberg_upsert_orders,
        "iceberg_bucket_pruned_scan": workloads_ext.iceberg_bucket_pruned_scan,
        "delta_v2_checkpoint_orders": workloads_ext.delta_v2_checkpoint_orders,
        # --- round-8 rotation: judge-only queries cycle into the
        # driver's first-50 sample (VERDICT r7 item 7) + the new
        # delete_where → rewrite_manifests oracle loop ---
        "iceberg_delete_where_orders": workloads_ext.iceberg_delete_where_orders,
        "iceberg_refs_tag_orders": workloads_ext.iceberg_refs_tag_orders,
        "iceberg_wap_publish_orders": workloads_ext.iceberg_wap_publish_orders,
        "iceberg_partitions_metadata_orders":
            workloads_ext.iceberg_partitions_metadata_orders,
        "iceberg_spec_evolution_orders":
            workloads_ext.iceberg_spec_evolution_orders,
        "delta_cdf_file_orders": workloads_ext.delta_cdf_file_orders,
        "iceberg_changelog_orders": workloads_ext.iceberg_changelog_orders,
        # --- round 10: branch-aware changelog (WAP audit feed) +
        # replaceWhere predicate-scoped overwrite ---
        "iceberg_branch_changelog_orders":
            workloads_ext.iceberg_branch_changelog_orders,
        "iceberg_branch_dml_orders":
            workloads_ext.iceberg_branch_dml_orders,
        "delta_replace_where_orders":
            workloads_ext.delta_replace_where_orders,
        "iceberg_replace_where_orders":
            workloads_ext.iceberg_replace_where_orders,
        "copy_into_orders": workloads_ext.copy_into_orders,
        "dynamic_overwrite_orders":
            workloads_ext.dynamic_overwrite_orders,
        # --- round-9 rotation: never-driver-sampled families move
        # into the first-50 (VERDICT r8 item 5); six long-verified
        # simple aggregates rotate to the tail ---
        "mann_whitney_u_orders": workloads_ext.mann_whitney_u_orders,
        "ks_test_orders": workloads_ext.ks_test_orders,
        "metadata_only_agg": workloads_ext.metadata_only_agg,
        "pagerank_hosts": workloads_ext.pagerank_hosts,
        "bloom_point_lookup_events": workloads_ext.bloom_point_lookup_events,
        "pq_ann_topk": workloads_ext.pq_ann_topk,
        "incremental_minhash_dedup": workloads_ext.incremental_minhash_dedup,
        "ivf_index_drift": workloads_ext.ivf_index_drift,
        "hilbert_cluster_lineitem": workloads_ext.hilbert_cluster_lineitem,
        "tumbling_window_daily": workloads_ext.tumbling_window_daily,
        "gopher_rules_docs": workloads_ext.gopher_rules_docs,
        "lsh_ann_topk": workloads_ext.lsh_ann_topk,
        "ivf_ann_topk": workloads_ext.ivf_ann_topk,
        "jl_project_embeddings": workloads_ext.jl_project_embeddings,
        "filtered_ann_topk": workloads_ext.filtered_ann_topk,
        "incremental_ivf_ann": workloads_ext.incremental_ivf_ann,
        "multimodal_metadata": workloads_ext.multimodal_metadata,
        "salted_agg_lineitem": workloads_ext.salted_agg_lineitem,
        "asof_join_purchases": workloads_ext.asof_join_purchases,
        "sliding_window_7d": workloads_ext.sliding_window_7d,
        "split_train_val_test": workloads_ext.split_train_val_test,
        "pack_token_shards": workloads_ext.pack_token_shards,
        "decontaminate_docs": workloads_ext.decontaminate_docs,
        "range_join_event_bursts": workloads_ext.range_join_event_bursts,
        "temperature_mixture_sample": workloads_ext.temperature_mixture_sample,
        "jsonl_parse_recovery": workloads_ext.jsonl_parse_recovery,
        "token_diversity_docs": workloads_ext.token_diversity_docs,
        "chunk_docs_for_training": workloads_ext.chunk_docs_for_training,
        "curation_funnel_docs": workloads_ext.curation_funnel_docs,
        "bloom_prune_lineitem": workloads_ext.bloom_prune_lineitem,
        "uniform_sample_docs": workloads_ext.uniform_sample_docs,
        "cms_heavy_tokens": workloads_ext.cms_heavy_tokens,
        "vocab_encode_docs": workloads_ext.vocab_encode_docs,
        "outlier_orders_exact": workloads_ext.outlier_orders_exact,
        "incremental_daily_rollup": workloads_ext.incremental_daily_rollup,
        "gap_fill_daily": workloads_ext.gap_fill_daily,
        "cumulative_new_users": workloads_ext.cumulative_new_users,
        "cohort_retention": workloads_ext.cohort_retention,
        "event_funnel_conversion": workloads_ext.event_funnel_conversion,
        "bounded_funnel_conversion": workloads_ext.bounded_funnel_conversion,
        "abc_classification_parts": workloads_ext.abc_classification_parts,
        "theil_sen_daily_trend": workloads_ext.theil_sen_daily_trend,
        "mann_kendall_trend_orders": workloads_ext.mann_kendall_trend_orders,
        "star_join_revenue": workloads_ext.star_join_revenue,
        "zorder_cluster_lineitem": workloads_ext.zorder_cluster_lineitem,
        "cube_orders": workloads_ext.cube_orders,
        "pii_redact_docs": workloads_ext.pii_redact_docs,
        "repetition_filter_docs": workloads_ext.repetition_filter_docs,
        "url_host_stats": workloads_ext.url_host_stats,
        "stratified_sample_docs": workloads_ext.stratified_sample_docs,
        "corpus_top_trigrams": workloads_ext.corpus_top_trigrams,
        "agg_pricing_summary": workloads.agg_pricing_summary,
        "agg_global_kpi": workloads.agg_global_kpi,
        "agg_monthly_rollup": workloads.agg_monthly_rollup,
        "agg_conditional_pivot": workloads.agg_conditional_pivot,
        "union_by_name_mixed": workloads.union_by_name_mixed,
        "band_join_classify": workloads.band_join_classify,
        "ngram_jaccard_near_dup": workloads_ext.ngram_jaccard_near_dup,
        "skipping_pruned_scan": workloads_ext.skipping_pruned_scan,
        "negative_sample_pairs": workloads_ext.negative_sample_pairs,
        "training_shuffle_shards": workloads_ext.training_shuffle_shards,
        "join_size_estimate_orders": workloads_ext.join_size_estimate_orders,
        "profile_orders_table": workloads_ext.profile_orders_table,
        "kmv_audience_overlap": workloads_ext.kmv_audience_overlap,
        "phrase_search_docs": workloads_ext.phrase_search_docs,
        "feature_hash_docs": workloads_ext.feature_hash_docs,
        "ppjoin_near_dup": workloads_ext.ppjoin_near_dup,
        "scd2_as_of_snapshot": workloads_ext.scd2_as_of_snapshot,
        "hybrid_range_count_lineitem": workloads_ext.hybrid_range_count_lineitem,
        "json_extract_events": workloads_ext.json_extract_events,
        "window_rank_suite": workloads_ext.window_rank_suite,
        "listagg_top_customers": workloads_ext.listagg_top_customers,
        "grouping_sets_orders": workloads_ext.grouping_sets_orders,
        "ewma_daily_revenue": workloads_ext.ewma_daily_revenue,
        "near_dup_clusters": workloads_ext.near_dup_clusters,
        "tfidf_search_docs": workloads_ext.tfidf_search_docs,
        "hybrid_rrf_search": workloads_ext.hybrid_rrf_search,
        "grid_nearest_station": workloads_ext.grid_nearest_station,
        "incremental_near_dup_clusters": workloads_ext.incremental_near_dup_clusters,
        "event_transition_matrix": workloads_ext.event_transition_matrix,
        "record_linkage_customers": workloads_ext.record_linkage_customers,
        "robust_outliers_mad": workloads_ext.robust_outliers_mad,
        "exact_corr_lineitem": workloads_ext.exact_corr_lineitem,
        "copurchase_pairs_topk": workloads_ext.copurchase_pairs_topk,
        "dsir_select_docs": workloads_ext.dsir_select_docs,
        "bucketed_join_revenue": workloads_ext.bucketed_join_revenue,
        "dq_expectations": workloads_ext.dq_expectations,
        "ngram_dup_rate_docs": workloads_ext.ngram_dup_rate_docs,
        "unigram_surprisal_docs": workloads_ext.unigram_surprisal_docs,
        "max_concurrent_events": workloads_ext.max_concurrent_events,
        "topk_orders_per_priority": workloads_ext.topk_orders_per_priority,
        "triangle_count_copurchase": workloads_ext.triangle_count_copurchase,
        "hll_merge_rollup": workloads_ext.hll_merge_rollup,
        "trimmed_mean_prices": workloads_ext.trimmed_mean_prices,
        "csv_parse_recovery": workloads_ext.csv_parse_recovery,
        "cdf_order_changes": workloads_ext.cdf_order_changes,
        "ivm_orders_by_status": workloads_ext.ivm_orders_by_status,
        "leakage_safe_split_docs": workloads_ext.leakage_safe_split_docs,
        "line_dedup_docs": workloads_ext.line_dedup_docs,
        "perplexity_bucket_sample": workloads_ext.perplexity_bucket_sample,
        "span_dedup_docs": workloads_ext.span_dedup_docs,
        "nb_lang_classifier": workloads_ext.nb_lang_classifier,
        "bpe_encode_docs": workloads_ext.bpe_encode_docs,
        "ngram_containment_decontam": workloads_ext.ngram_containment_decontam,
        "html_extract_docs": workloads_ext.html_extract_docs,
        "bigram_surprisal_docs": workloads_ext.bigram_surprisal_docs,
        "mixture_epoch_repeats": workloads_ext.mixture_epoch_repeats,
        "scd2_incremental_history": workloads_ext.scd2_incremental_history,
        "iceberg_roundtrip_orders": workloads_ext.iceberg_roundtrip_orders,
        "simhash_near_dup": workloads_ext.simhash_near_dup,
        "embedding_cosine_near_dup": workloads_ext.embedding_cosine_near_dup,
        "fuzzy_match_part_names": workloads_ext.fuzzy_match_part_names,
        "mixture_budget_docs": workloads_ext.mixture_budget_docs,
        "setops_customer_years": workloads_ext.setops_customer_years,
        "exists_priority_customers": workloads_ext.exists_priority_customers,
        "unpivot_order_metrics": workloads_ext.unpivot_order_metrics,
        "twap_user_value": workloads_ext.twap_user_value,
        # --- rotated OUT of the first-50 sample in round 8 (all stay
        # judge-swept; the sample cycles the surface each round) ---
        # --- round 11: ALTER TABLE column evolution + MERGE schema
        # evolution, oracle-backed end-to-end on both lakehouse backends
        "alter_columns_delta_orders":
            workloads_ext.alter_columns_delta_orders,
        "alter_columns_iceberg_orders":
            workloads_ext.alter_columns_iceberg_orders,
        # --- round 11: predicate file skipping on the lakehouse readers
        # (Delta log-stats data skipping; Iceberg range-filter planning)
        "delta_skipping_orders": workloads_ext.delta_skipping_orders,
        "iceberg_range_scan_orders":
            workloads_ext.iceberg_range_scan_orders,
        "band_case_classify": workloads.band_case_classify,
        "agg_histogram_case": workloads.agg_histogram_case,
        "agg_frequency_table": workloads.agg_frequency_table,
        "agg_duplicate_audit": workloads.agg_duplicate_audit,
        "membership_topk": workloads.membership_topk,
        "case_custom_sort": workloads.case_custom_sort,
        "percentile_by_type": workloads.percentile_by_type,
        "pivot_status_by_priority": workloads.pivot_status_by_priority,
        "above_avg_orders": workloads.above_avg_orders,
        "lag_lead_deltas": workloads.lag_lead_deltas,
        "text_fingerprint": workloads_ext.text_fingerprint,
        "text_tokenize_stats": workloads_ext.text_tokenize_stats,
    }
    # --- CANONICAL first-50, frozen in round 12 (r11 VERDICT item 6).
    # It is the round-11 sample verbatim: the last never-driver-sampled
    # families plus the round-11 oracle queries and the heaviest
    # previously-green queries. Do NOT reorder — the driver's
    # round-over-round correctness comparison keys on this sample, and
    # rotating it again zeroes n_common. ---
    first = [
        "iceberg_branch_changelog_orders", "iceberg_branch_dml_orders",
        "iceberg_replace_where_orders", "json_extract_events",
        "window_rank_suite", "listagg_top_customers",
        "grouping_sets_orders", "ewma_daily_revenue",
        "tfidf_search_docs", "grid_nearest_station",
        "event_transition_matrix", "record_linkage_customers",
        "robust_outliers_mad", "exact_corr_lineitem",
        "copurchase_pairs_topk", "dsir_select_docs",
        "bucketed_join_revenue", "dq_expectations",
        "ngram_dup_rate_docs", "unigram_surprisal_docs",
        "max_concurrent_events", "topk_orders_per_priority",
        "hll_merge_rollup", "trimmed_mean_prices",
        "csv_parse_recovery", "ivm_orders_by_status",
        "line_dedup_docs", "perplexity_bucket_sample",
        "span_dedup_docs", "nb_lang_classifier",
        "bpe_encode_docs", "ngram_containment_decontam",
        "html_extract_docs", "bigram_surprisal_docs",
        "scd2_incremental_history", "iceberg_roundtrip_orders",
        "fuzzy_match_part_names", "mixture_budget_docs",
        "setops_customer_years", "exists_priority_customers",
        "unpivot_order_metrics", "twap_user_value",
        "vocab_encode_docs",
        # round-11's new oracle-backed operators take four slots; the
        # heaviest previously-green queries pad the rest
        "alter_columns_delta_orders", "alter_columns_iceberg_orders",
        "delta_skipping_orders", "iceberg_range_scan_orders",
        "bpe_learn_merges", "ivf_index_drift",
        "incremental_minhash_dedup",
    ]
    ordered = {n: q[n] for n in first}
    ordered.update((n, f) for n, f in q.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted ⇒ rows-only check)."""
    return {**oracles.ORACLES, **oracles_ext.ORACLES_EXT}
