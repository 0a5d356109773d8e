package graft

/** Plan-shape regression guards: the scale properties argued in the
  * scaladocs, asserted against the actual physical plans so a future
  * refactor can't silently reintroduce the shuffles/scans they removed.
  */
class PlanRegressionSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  def count(p: String, pat: String): Int = pat.r.findAllIn(p).length

  // The retention plan guards run against the UNCACHED library path.
  // The SparkEntry queries serve these from a shared cached stage
  // (RetentionCore), and Spark's CacheManager substitutes ANY logically
  // equal subtree with the cache — so the guards use a config the
  // cached stage was never built with (windowMonths=47): identical plan
  // shape, no cache hit. RetentionCoreSpec covers the cached path.
  private def uncachedCfg =
    graft.retention.StarAdapter.config(spark, dir).copy(windowMonths = 47)

  test("flagship keeps the single household shuffle spine (≤5 hash exchanges)") {
    import graft.retention.{Retention, StarAdapter}
    val p = Retention.fullHistory(
      StarAdapter.persons(spark, dir), StarAdapter.encounters(spark, dir),
      uncachedCfg).queryExecution.executedPlan.toString
    assert(!p.contains("InMemoryTableScan"), "guard must run uncached:\n" + p)
    assert(count(p, "Exchange hashpartitioning") <= 5, p)
    // phase-2 must not re-scan encounters: exactly 1 orders scan
    assert(count(p, "FileScan parquet \\[[^\\]]*o_orderdate") +
           count(p, "orders\\.parquet") <= 2, p)
  }

  test("filter and projection reach the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)") ||
           p.contains("PushedFilters: [IsNotNull(o_totalprice)") ||
           p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(!p.contains("o_orderpriority"), "projection not pruned:\n" + p)
  }

  test("scaffold spine is broadcast, never shuffled") {
    import graft.retention.{Retention, StarAdapter}
    val p = Retention.householdRanges(
      StarAdapter.persons(spark, dir), StarAdapter.encounters(spark, dir),
      uncachedCfg).queryExecution.executedPlan.toString
    assert(!p.contains("InMemoryTableScan"), "guard must run uncached:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("rank<=k filters plan as WindowGroupLimit (bounded per-key state)") {
    // Spark's InferWindowGroupLimit turns the row_number<=k filter into
    // a per-partition top-k heap — without it every key's FULL neighbor
    // list sorts through the window at 100 TB
    val p = plan("q_sim_cosine_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(plan("q_tfidf_topk").contains("WindowGroupLimit"))
  }

  test("count() over pure projections collapses to a metadata-only scan") {
    val p = SparkEntry.queries("q_text_stats")(spark, dir)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<>"), p)
  }

  test("decontamination probes the eval set via broadcast, no corpus gram shuffle") {
    // the corpus-side gram stream must hit the bench set through a
    // BroadcastHashJoin (map-side probe inside the scan stage); the
    // only hash exchanges are the per-doc hit count and the report's
    // doc_id join — never the exploded gram stream itself
    val p = plan("q_decontaminate")
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("SortMergeJoin"), "gram probe degraded to SMJ:\n" + p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("mixture sample applies its allocation as a broadcast filter") {
    // the |strata|-row allocation broadcasts; the corpus is scanned
    // once and filtered map-side — the only hash exchange is the
    // stratum count aggregation that FEEDS the allocation
    val p = plan("q_mixture_sample")
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(count(p, "Exchange hashpartitioning") <= 1, p)
  }

  test("shard assignment is map-side; only the stats agg exchanges") {
    val p = plan("q_shard_shuffle")
    assert(count(p, "Exchange hashpartitioning") <= 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "assignment must not join:\n" + p)
  }

  test("passage chunking is pure generator work — zero exchanges") {
    val p = plan("q_chunk_passages")
    assert(p.contains("Generate"), p)
    assert(count(p, "Exchange") == 0, "chunking must not shuffle:\n" + p)
  }

  test("attribution plans as an equi-join on user, never a product") {
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "interval condition must ride the user_id equi-join:\n" + p)
  }

  test("heavy-hitter sketch aggregates partially before the merge") {
    // two-phase: partial sketches per input partition, ONE merged
    // row crosses the exchange — the whole point of a mergeable sketch
    val p = plan("q_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_heavy_hitters") ||
           count(p, "heavy_hitters") >= 2, "no partial aggregation:\n" + p)
  }

  test("star join broadcasts every dimension — no dim-side shuffle") {
    val p = plan("q_star_join")
    // supplier/nation/region (and the order side under AQE thresholds)
    // must come in as broadcasts; a shuffled dim would repartition the
    // fact chain once per dimension at 100 TB
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    assert(count(p, "SortMergeJoin") <= 2, "dim joined by shuffle:\n" + p)
  }

  test("cdc compaction aggregates partially — no per-partition sort") {
    val p = plan("q_cdc_latest")
    assert(count(p, "Exchange") == 1, "one exchange on the key:\n" + p)
    assert(!p.contains("Window"), "must be the aggregate form:\n" + p)
    assert(p.contains("partial"), "no map-side combine:\n" + p)
  }

  test("knn join: block-tiled kernel — packed-tile pairing, heap top-k") {
    // the N² scoring must NOT stream per-pair rows: the only join is
    // the B×B pairing of PACKED block rows (a broadcast nested loop
    // over B-row sides), the dots run inside a MapPartitions kernel,
    // and per-vector top-k goes through the bounded-heap aggregate —
    // never a row_number window sort over the pair stream
    val p = plan("q_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "tile pairing must broadcast the packed blocks:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("MapPartitions"), "kernel must run map-side:\n" + p)
    // exchanges: block grouping (once per tile side) + the final top-k
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
    assert(!p.contains("Window"), "top-k must not sort via a window:\n" + p)
    assert(p.contains("ObjectHashAggregate"), "heap agg expected:\n" + p)
  }

  test("funnel materializes step frames — the report never rescans events") {
    // each union branch embeds its step-prefix chain and AQE does NOT
    // collapse the re-analyzed copies, so the lazy form would rescan
    // the event source O(steps²) times; the materialized frames must
    // leave the report plan free of any file scan
    val df = SparkEntry.queries("q_funnel")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan") && !p.contains("BatchScan"),
      "report must read materialized step frames only:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("topk_pairs plans as a partial object-hash agg, not a window sort") {
    // the whole point vs row_number(): k-row partial heaps cross the
    // exchange, no per-group sort of the full row set
    val p = plan("q_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(count(p, "topk_pairs") >= 2, "no partial aggregation:\n" + p)
    assert(!p.contains("Window"), "top-k must not fall back to a window:\n" + p)
  }

  test("per-group HLL crosses the exchange as merged sketch state") {
    val p = plan("q_hll_groups")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(count(p, "hll_distinct") >= 2, "no partial aggregation:\n" + p)
  }

  test("salted aggregation is two hash-agg phases with one exchange between") {
    val p = plan("q_salted_agg")
    // partial(+final) over (keys, salt), then partial(+final) over keys:
    // ≥2 HashAggregate pairs and no more than 2 exchanges total
    assert(count(p, "HashAggregate") >= 4, p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("series ops are one window pass: exactly one exchange each") {
    for (q <- Seq("q_gap_fill", "q_anomaly")) {
      val p = plan(q)
      assert(count(p, "Exchange") <= 1, s"$q should shuffle once:\n" + p)
    }
    // interval merge adds the final per-island aggregation on the same
    // keyed partitioning: the agg must NOT re-exchange
    val p = plan("q_interval_merge")
    assert(count(p, "Exchange") <= 2, p)
  }

  test("rabin chunking is pure generator work — zero exchanges") {
    val p = plan("q_cdc_chunks")
    assert(count(p, "Exchange") == 0, p)
    assert(p.contains("rabin_boundaries"), p)
  }

  test("triangle counting never plans a cartesian product") {
    for (q <- Seq("q_triangles", "q_cluster_coeff")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p)
    }
  }

  test("skyline is pure window work — one sort partition, no join") {
    val p = plan("q_skyline")
    assert(!p.contains("Join"), "skyline must not self-join:\n" + p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("capped balance is one window pass — no join, one exchange") {
    val p = plan("q_capped_balance")
    assert(!p.contains("Join"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("MAD runs as histogram crossings: no sort of the corpus, no " +
       "single-partition window, scans stay 2-column") {
    // groupedWeightedCrossings deliberately RESCANS the raw rows
    // (map-side passes) instead of materializing a per-value relation
    // — the contract is the absence of any ordering of the data: every
    // window/sort must sit above the G·B-bucket aggregates, never the
    // corpus, so no SinglePartition exchange and no exchange that
    // range-partitions the scan
    val p = plan("q_mad")
    assert(!p.contains("Exchange SinglePartition"),
      "single-partition funnel in MAD:\n" + p)
    assert(!p.contains("Exchange rangepartitioning"),
      "corpus-wide sort exchange in MAD:\n" + p)
    // column pruning: the fact scans must read only flag + price
    assert(!p.contains("l_orderkey"), "unpruned MAD scan:\n" + p)
  }

  test("iterative graph results read checkpointed state, not files") {
    for (q <- Seq("q_kcore", "q_shortest_path", "q_weighted_path")) {
      val p = plan(q)
      assert(!p.contains("FileScan") && !p.contains("BatchScan"),
        s"$q re-derives edges in its final plan:\n" + p)
    }
  }

  test("count() of every as-of entry still plans the merge exec") {
    // the benchmark times `.count()`: a Window/Union the optimizer can
    // prune there would time a bare events scan instead of the join
    for (q <- Seq("q_asof_join", "q_asof_native", "q_asof_skew",
                  "q_asof_fwd", "q_asof_nearest", "q_temporal_join")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .groupBy().count().queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin ["), s"$q count() lost the join:\n" + p)
      assert(!p.contains("Union"), s"$q plans a union:\n" + p)
    }
  }
}
