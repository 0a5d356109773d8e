#!/usr/bin/env bash
# Round-15 sf100 EXTENSION sweep #2 — pushes third-decade coverage from
# the 60 queries of BENCH_sf100_r{13,14}.json toward the full suite
# (VERDICT r14 item 5). Families prioritized: grouped numberings /
# windows, band/range/asof/temporal joins, graph beyond cc/kcore,
# streaming-adjacent batch duals, skew/salted shapes, plus the three
# queries this round rewrote (q_mmr_rerank, q_price_index,
# q_rank_movers) so their new plans get third-decade rows.
# Deliberately EXCLUDED: q_knn_join (exact-N² recall baseline by
# contract — refuses corpus scale loudly; the ANN paths stand in),
# media decode family (byte-payload fixtures scale by repetition, the
# decode kernels were decade-measured at sf10 in r12).
# 2 passes, ONE JVM, ANSI on. GCLocker knob per OPTIMIZATION_r14.md.
set -euo pipefail
cd "$(dirname "$0")/../.."
ONLY=q_running_total,q_window_rank,q_window_lag_lead,q_window_analytics,q_window_distinct,q_range_frame,q_rolling_distinct,q_rolling_slope,q_lag_features,q_percentile,q_rank_tau,q_zvalue
ONLY=$ONLY,q_band_join,q_range_join,q_asof_join,q_asof_fwd,q_asof_native,q_asof_nearest,q_asof_skew,q_temporal_join,q_interval_merge,q_allen_intervals
ONLY=$ONLY,q_cluster_coeff,q_degree_hist,q_random_walks,q_walk_pairs,q_link_predict,q_weighted_path,q_markov_stationary
ONLY=$ONLY,q_events_sessionize,q_session_window,q_events_window,q_cdc_latest,q_cdc_chunks,q_scd2,q_snapshot_diff,q_ooo_lateness,q_decayed_count,q_sessionized_conversion,q_funnel
ONLY=$ONLY,q_mmr_rerank,q_price_index,q_rank_movers,q_semantic_dedup,q_sim_cosine_topk,q_sim_quant_topk,q_sim_ann_ivf,q_sim_lsh_buckets,q_sparse_cosine_pairs,q_tfidf_topk,q_inverted_index,q_bm25_wand,q_ngram_novelty,q_pmi_collocations,q_bpe_merge
ONLY=$ONLY,q_salted_agg,q_heavy_hitters,q_shard_shuffle,q_skew_report
JAVA_TOOL_OPTIONS="-Dspark.sql.shuffle.partitions=128 ${JAVA_TOOL_OPTIONS:--XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64}" \
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-48g} \
SPARK_GRAFT_ONLY=$ONLY \
tools/run.sh graft.ScaleSweep /tmp/graft_sf100 "${1:-BENCH_sf100_r15.json}"
