#!/usr/bin/env bash
# Round-14 sf100 EXTENSION sweep — the 34 queries never before measured
# at the third decade (the r13 artifact BENCH_sf100_r13.json already
# carries the 26 scaling-sensitive heavies, and this round's
# probes/r14/sf100_{scan,assoc}_*.json re-measure the two of those the
# round changed). Union of the two artifacts = 60 distinct queries with
# third-decade rows. 2 passes, ONE JVM, ANSI on, prebuild decomposition.
# Run with JAVA_TOOL_OPTIONS="-XX:+UnlockDiagnosticVMOptions
# -XX:GCLockerRetryAllocationCount=64" (GCLocker starvation note in
# OPTIMIZATION_r14.md).
set -euo pipefail
cd "$(dirname "$0")/../.."
ONLY=q_retention_tenant,q_retention_events,q_retention_phase2,q_retention_nested
ONLY=$ONLY,q_rfm,q_gini,q_quantile_norm,q_pareto_8020,q_lorenz,q_abc_class,q_percentile_rank,q_quartile_assign,q_spearman,q_ks_test,q_mann_whitney,q_pps_sample,q_systematic_sample,q_budget_select,q_interleave,q_target_encode
ONLY=$ONLY,q_incremental_dedup,q_dedup_clusters,q_dedup_exact,q_fingerprint,q_split_leakfree,q_survivorship
ONLY=$ONLY,q_text_stats,q_lang_id,q_bm25_search,q_dup_spans
ONLY=$ONLY,q_filter_project,q_topk,q_join_semi
ONLY=$ONLY,q_sim_ann_kmeans
JAVA_TOOL_OPTIONS="-Dspark.sql.shuffle.partitions=128 ${JAVA_TOOL_OPTIONS:-}" \
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-48g} \
SPARK_GRAFT_ONLY=$ONLY \
tools/run.sh graft.ScaleSweep /tmp/graft_sf100 "${1:-BENCH_sf100_r14.json}"
