#!/usr/bin/env bash
# Round-14 widened sf100 sweep (judge ask #3): the r13 26-query
# scaling-sensitive set plus the retention family, the GlobalOrder
# consumer cohort (inheriting the round's pin-free bounds fix), graph,
# incremental-dedup deliveries, text/retrieval, similarity, and core
# window/join anchors — 60 queries, 2 passes, ONE JVM, ANSI on.
# Embedding noise-floor skips carried from r13 with the same named
# reasons (q_dedup_embedding/t=0.4 is output-quadratic by the measured
# law; q_dedup_embedding_hi and q_semantic_dedup are measured
# standalone through the router at 8 g — probes/r14/).
set -euo pipefail
cd "$(dirname "$0")/../.."
ONLY=q_agg_sum,q_assoc_rules,q_bm25_bucketed,q_bm25_delta,q_calibration,q_cc_path,q_containment,q_curation,q_dedup_minhash_lsh,q_dedup_ngram,q_dedup_simhash,q_incremental_neardup,q_join_inner,q_kcore,q_label_prop,q_lm_score,q_mad,q_max_coverage,q_pagerank,q_retention_collapsed,q_retention_flagship,q_scan_pruning,q_shortest_path,q_triangles,q_weighted_median,q_winsorize
ONLY=$ONLY,q_retention_tenant,q_retention_events,q_retention_phase2,q_retention_nested
ONLY=$ONLY,q_rfm,q_gini,q_quantile_norm,q_pareto_8020,q_lorenz,q_abc_class,q_percentile_rank,q_quartile_assign,q_spearman,q_ks_test,q_mann_whitney,q_pps_sample,q_systematic_sample,q_budget_select,q_interleave,q_target_encode
ONLY=$ONLY,q_incremental_dedup,q_dedup_clusters,q_dedup_exact,q_fingerprint,q_split_leakfree,q_survivorship
ONLY=$ONLY,q_text_stats,q_lang_id,q_bm25_search,q_dup_spans
ONLY=$ONLY,q_filter_project,q_topk,q_join_semi
ONLY=$ONLY,q_sim_ann_kmeans
JAVA_TOOL_OPTIONS="-Dspark.sql.shuffle.partitions=128 ${JAVA_TOOL_OPTIONS:-}" \
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-48g} \
SPARK_GRAFT_ONLY=$ONLY \
tools/run.sh graft.ScaleSweep /tmp/graft_sf100 "${1:-BENCH_sf100_r14.json}"
