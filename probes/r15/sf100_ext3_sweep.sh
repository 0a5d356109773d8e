#!/usr/bin/env bash
# Round-15 sf100 EXTENSION sweep #3 — the remaining suite beyond the
# 117 queries of BENCH_sf100_r{13,14,15}.json, toward full third-decade
# coverage. EXCLUDED by contract: q_knn_join (exact-N^2 recall
# baseline, loud refusal at corpus scale), q_semdedup (kmeans-cell pair
# decomposition probed end-to-end at sf100 in probes/r14/
# sf100_semdedup.json - 792 s pair stage; re-running it would consume
# the sweep), media decode family (byte payloads scale by repetition;
# decade-measured at sf10 in r12). 2 passes, ONE JVM, ANSI on,
# GCLocker knob per OPTIMIZATION_r14.md.
set -euo pipefail
cd "$(dirname "$0")/../.."
ONLY=q_ab_assign,q_ab_outcomes,q_anomaly,q_anova,q_apportion,q_attribution,q_audience_overlap,q_autocorr,q_backlog,q_band_signatures,q_benford,q_bitmap_membership,q_bloom_join,q_bootstrap_ci,q_bpe_encode,q_bpe_train,q_bpe_vocab,q_burstiness,q_capped_balance,q_case_coalesce,q_chisq,q_chunk_dedup
ONLY=$ONLY,q_chunk_passages,q_churn_risk,q_cluster_sample,q_cohort,q_collection_funcs,q_confusion,q_contamination_matrix,q_control_chart,q_conversion_lag,q_count_gate,q_countmin,q_crossdoc_dup,q_cube,q_cusum,q_dataset_card,q_dates_scalar,q_decontaminate,q_dedup_embedding,q_dedup_embedding_hi,q_dict_encodability,q_discount_response,q_drawdown
ONLY=$ONLY,q_dwell_time,q_edit_distance,q_emb_centroid,q_emb_outliers,q_embed_norm,q_embed_quant,q_entity_match,q_event_paths,q_explode_pos,q_fd_check,q_feature_hash,q_fertility,q_gap_fill,q_grouping_sets,q_growth_accounting,q_hhi,q_histogram,q_hll_groups,q_hll_registers,q_index_search,q_join_anti,q_join_full_outer
ONLY=$ONLY,q_join_semi_parent,q_join_size,q_json_extract,q_k_anon,q_kmeans,q_l_diversity,q_label_windows,q_lateral,q_lsh_recall,q_ltv_curve,q_minmax_by,q_mixture_alloc,q_mixture_sample,q_mode,q_month_spine,q_multi_distinct,q_multitouch,q_neg_sample,q_nested_collect,q_pack_sequences,q_peak_detect,q_period_change
ONLY=$ONLY,q_phrase_search,q_pii_redact,q_pivot,q_profile,q_pseudonymize,q_psi_buckets,q_quality_checks,q_range_boundaries,q_ranked_search,q_rater_kappa,q_recursive_cte,q_ref_integrity,q_regression,q_repetition,q_rollup,q_rrf_fusion,q_runs_test,q_scalar_subquery,q_seasonal_forecast,q_seasonality,q_set_ops,q_share_of_parent
ONLY=$ONLY,q_sketch_intersect,q_skyline,q_star_join,q_stratified_sample,q_stratum_terms,q_streaks,q_string_funcs,q_survival,q_table_checksum,q_throttle,q_time_weighted,q_token_bigrams,q_topk_agg,q_transitions,q_trigram_transitions,q_trimmed_mean,q_unpivot,q_variant,q_vocab_overlap,q_zipf
JAVA_TOOL_OPTIONS="-Dspark.sql.shuffle.partitions=128 ${JAVA_TOOL_OPTIONS:--XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64}" \
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-48g} \
SPARK_GRAFT_ONLY=$ONLY \
tools/run.sh graft.ScaleSweep /tmp/graft_sf100 "${1:-BENCH_sf100_r15b.json}"
