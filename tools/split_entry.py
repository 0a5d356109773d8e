#!/usr/bin/env python3
"""One-shot refactor: split SparkEntry.scala's two giant map literals
into per-domain registry files (graft package), leaving SparkEntry as a
thin aggregator. Entry text is copied verbatim (trailing commas kept —
Scala 2.13 allows them before a newline+paren), so map CONTENT is
byte-identical; only file layout changes."""
import re, sys, os

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src/main/scala/graft")
path = f"{ROOT}/SparkEntry.scala"
lines = open(path).read().split("\n")

def find(pred, start=0):
    for i in range(start, len(lines)):
        if pred(lines[i]):
            return i
    raise ValueError("not found")

q_map_start = find(lambda l: l.startswith("  def queries:"))
q_map_end = find(lambda l: l == "  )", q_map_start)
o_map_start = find(lambda l: l.startswith("  def oracleSql:"))
o_map_end = find(lambda l: l == "  )", o_map_start)
obj_end = len(lines) - 1
while lines[obj_end].strip() != "}":
    obj_end -= 1

ENTRY_RE = re.compile(r'^    "(q_\w+)" ->')

def extract(map_start, map_end):
    """Return list of (name, block_lines) covering (map_start, map_end)."""
    starts = [i for i in range(map_start + 1, map_end)
              if ENTRY_RE.match(lines[i])]
    blocks = []
    bounds = []
    for s in starts:
        a = s
        while a - 1 > map_start and (
                lines[a-1].strip().startswith("//") or lines[a-1].strip() == ""):
            a -= 1
        bounds.append(a)
    for k, s in enumerate(starts):
        a = bounds[k]
        b = bounds[k+1] if k + 1 < len(starts) else map_end
        name = ENTRY_RE.match(lines[s]).group(1)
        blocks.append((name, lines[a:b]))
    return blocks

q_blocks = extract(q_map_start, q_map_end)
o_blocks = extract(o_map_start, o_map_end)
assert len(q_blocks) == len(o_blocks) == 238, (len(q_blocks), len(o_blocks))

DOMAINS = {
 "Retention": "q_retention_flagship q_retention_collapsed q_retention_phase2 q_retention_tenant q_retention_events q_retention_nested q_month_spine q_count_gate",
 "Core": "q_filter_project q_agg_sum q_multi_distinct q_join_inner q_join_semi q_join_anti q_join_semi_parent q_join_full_outer q_window_rank q_window_lag_lead q_minmax_by q_topk q_dates_scalar q_case_coalesce q_nested_collect q_set_ops q_string_funcs q_pivot q_unpivot q_running_total q_rollup q_cube q_grouping_sets q_window_analytics q_scalar_subquery q_star_join q_recursive_cte q_lateral q_window_distinct q_range_frame q_histogram q_variant q_json_extract q_collection_funcs q_explode_pos q_band_join q_percentile",
 "Governance": "q_scd2 q_cdc_latest q_cdc_chunks q_salted_agg q_bloom_join q_table_checksum q_capped_balance q_share_of_parent q_mode q_join_size q_skew_report q_pseudonymize q_k_anon q_l_diversity q_fd_check q_ref_integrity q_quality_checks q_profile q_snapshot_diff q_dict_encodability q_scan_pruning q_zvalue q_range_boundaries q_dataset_card q_apportion q_throttle",
 "Temporal": "q_events_window q_attribution q_events_sessionize q_session_window q_funnel q_cohort q_temporal_join q_gap_fill q_interval_merge q_dwell_time q_ooo_lateness q_label_windows q_sessionized_conversion q_peak_detect q_multitouch q_event_paths q_conversion_lag q_allen_intervals q_transitions q_markov_stationary q_streaks q_time_weighted q_decayed_count q_drawdown q_burstiness q_seasonality q_seasonal_forecast q_autocorr q_rolling_slope q_rolling_distinct q_period_change q_cusum q_control_chart q_backlog q_lag_features q_anomaly q_asof_join q_asof_native q_asof_skew q_asof_fwd q_asof_nearest q_range_join",
 "Dedup": "q_dedup_exact q_fingerprint q_dedup_ngram q_dedup_minhash_lsh q_dedup_clusters q_band_signatures q_dedup_simhash q_semantic_dedup q_dedup_embedding q_chunk_dedup q_crossdoc_dup q_containment q_lsh_recall q_entity_match q_incremental_dedup",
 "Similarity": "q_sim_cosine_topk q_sim_quant_topk q_embed_quant q_mmr_rerank q_sim_lsh_buckets q_sim_ann_ivf q_sim_ann_kmeans q_kmeans q_knn_join q_embed_norm q_emb_centroid q_sparse_cosine_pairs",
 "Text": "q_text_stats q_lang_id q_chunk_passages q_pii_redact q_tfidf_topk q_repetition q_token_bigrams q_vocab_overlap q_bpe_merge q_edit_distance q_pmi_collocations q_zipf q_feature_hash q_trigram_transitions q_ngram_novelty",
 "Retrieval": "q_inverted_index q_index_search q_phrase_search q_ranked_search q_bm25_search q_rrf_fusion q_rank_tau q_decontaminate q_contamination_matrix",
 "Corpus": "q_split_leakfree q_stratified_sample q_pack_sequences q_mixture_alloc q_mixture_sample q_shard_shuffle q_systematic_sample q_pps_sample q_budget_select q_interleave q_neg_sample q_target_encode q_curation q_max_coverage",
 "Graph": "q_pagerank q_cc_path q_triangles q_cluster_coeff q_kcore q_degree_hist q_shortest_path q_weighted_path q_link_predict q_assoc_rules",
 "Sketch": "q_hll_registers q_countmin q_hll_groups q_bitmap_membership q_sketch_intersect q_heavy_hitters q_topk_agg q_audience_overlap",
 "Stats": "q_weighted_median q_mad q_quartile_assign q_percentile_rank q_skyline q_hhi q_winsorize q_gini q_lorenz q_chisq q_ks_test q_mann_whitney q_confusion q_calibration q_rater_kappa q_anova q_spearman q_runs_test q_bootstrap_ci q_regression q_trimmed_mean q_quantile_norm q_psi_buckets q_benford q_abc_class q_pareto_8020",
 "Business": "q_ab_assign q_ab_outcomes q_rfm q_churn_risk q_growth_accounting q_ltv_curve q_survivorship q_survival q_discount_response q_rank_movers q_price_index",
 "Media": "q_media_decode q_media_image_stats q_media_audio_stats q_media_frames q_media_resize",
}
assign = {}
for dom, names in DOMAINS.items():
    for n in names.split():
        assert n not in assign, f"dup assign {n}"
        assign[n] = dom
all_names = {n for n, _ in q_blocks}
missing = all_names - set(assign)
extra = set(assign) - all_names
if missing or extra:
    print("MISSING:", sorted(missing)); print("EXTRA:", sorted(extra))
    sys.exit(1)

HEADER = """package graft

import org.apache.spark.sql.{{DataFrame, SparkSession}}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.retention.{{EventsAdapter, Retention, StarAdapter}}
import QueryHelpers._

/** {dom} query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object {obj}Queries {{

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
"""

MID = """  )

  val oracleSql: Seq[(String, String)] = Seq(
"""

FOOT = """  )
}
"""

MAX_BODY = 1300  # lines per slice before overflowing into a second file

written = []
for dom in DOMAINS:
    names = [n for n in DOMAINS[dom].split()]
    qb = {n: b for n, b in q_blocks if assign[n] == dom}
    ob = {n: b for n, b in o_blocks if assign[n] == dom}
    # preserve original file order within the domain
    qorder = [n for n, _ in q_blocks if assign[n] == dom]
    oorder = [n for n, _ in o_blocks if assign[n] == dom]
    # pack into slices by combined line budget
    slices = []
    cur, cur_lines = [], 0
    for n in qorder:
        nl = len(qb[n]) + len(ob[n])
        if cur and cur_lines + nl > MAX_BODY:
            slices.append(cur); cur, cur_lines = [], 0
        cur.append(n); cur_lines += nl
    if cur:
        slices.append(cur)
    for si, slice_names in enumerate(slices):
        obj = dom if len(slices) == 1 else f"{dom}{chr(ord('A')+si)}"
        out = [HEADER.format(dom=dom, obj=obj)]
        for n in slice_names:
            out.append("\n".join(qb[n]) + "\n")
        out.append(MID)
        for n in [x for x in oorder if x in slice_names]:
            out.append("\n".join(ob[n]) + "\n")
        out.append(FOOT)
        body = "".join(out)
        # ensure last entry of each Seq has a trailing comma
        fn = f"{ROOT}/registry{obj}Queries.scala".replace("registry", "registry/")
        os.makedirs(f"{ROOT}/registry", exist_ok=True)
        open(fn, "w").write(body)
        written.append((obj, fn, body.count("\n")))

for obj, fn, n in written:
    print(f"{obj:14s} {n:5d} lines  {fn}")
print("objects:", " ".join(o for o, _, _ in written))
