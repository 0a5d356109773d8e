package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Governance query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object GovernanceQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- SCD2 validity intervals from the event log ----
    "q_scd2" -> ((s, dir) =>
      graft.operators.ChangeCapture.scd2(
        Tables.events(s, dir), "user_id", "event_type", "ts_ns",
        "event_id")),

    // ---- CDC latest-per-key compaction (delete-aware) ----
    "q_cdc_latest" -> ((s, dir) =>
      graft.operators.ChangeCapture.cdcLatest(
        Tables.events(s, dir), "user_id", "event_type", "ts_ns",
        "event_id", deleteState = "error")),

    // ---- bloom-prefiltered join (runtime semi-join filter as a
    //      library operator; results exact, oracle = plain join) ----
    "q_bloom_join" -> ((s, dir) =>
      graft.operators.BloomJoin.prefilteredJoin(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("l_quantity")),
        Tables.load(s, dir, "orders")
          .filter(col("o_totalprice") > 480000.0)
          .select(col("o_orderkey"), col("o_totalprice")),
        "l_orderkey", "o_orderkey", expectedItems = 1L << 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("o_totalprice"))),

    // ---- skew-salted two-stage aggregation: 6 hot keys spread over
    //      16 salts; the RESULT is the plain GROUP BY (salting is pure
    //      execution strategy, which is exactly what the oracle pins) ----
    "q_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedSumCount(
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
                  floor(col("l_extendedprice") * 100 + 0.5).cast("long")
                    .as("cents")),
        Seq("rf"), "cents", 16)),

    // ---- content-defined chunking (Rabin rolling hash, custom
    //      one-pass codegen expression; oracle rehashes each window
    //      from scratch — same value mod M) ----
    "q_cdc_chunks" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          graft.functions.TextAnalysis.cdcBoundaries(col("text"), 16, 64)
            .as("b"))
        .select(col("doc_id"), col("n_chars"),
          size(col("b")).cast("long").as("n_boundaries"),
          (size(col("b")) + 1).cast("long").as("n_chunks"),
          aggregate(col("b"), lit(0L), (a, x) => a + x).as("boundary_sum"),
          coalesce(try_element_at(col("b"), lit(1)).cast("long"), lit(0L))
            .as("first_cut"))),

    // ---- keyed pseudonymization (GDPR-style): stable md5 surrogate
    //      keys that preserve referential integrity across tables ----
    "q_pseudonymize" -> ((s, dir) => {
      def pseud(c: org.apache.spark.sql.Column) = graft.functions.Dedup.md5Hash60(
        concat(lit("v1:"), c.cast("string")))
      val cust = Tables.load(s, dir, "customer")
        .select(pseud(col("c_custkey")).as("pid"),
                col("c_nationkey").as("nation"))
      val ord = Tables.load(s, dir, "orders")
        .select(pseud(col("o_custkey")).as("pid"))
      cust.join(ord.groupBy("pid").agg(count(lit(1)).as("n_orders")),
                Seq("pid"), "left")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_customers"),
             sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
             min("pid").as("min_pid"), max("pid").as("max_pid"))
    }),

    // ---- data profiling: per-column null rate / distinct count /
    //      min-max, emitted long-form (one row per column) ----
    "q_profile" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def prof(c: String) = o.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c).cast("string")).as("min_str"),
        max(col(c).cast("string")).as("max_str"))
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(prof).reduce(_ unionByName _)
    }),

    // ---- dbt-style data-quality checks: one row per constraint with
    //      its violation count (all zero on healthy data — the oracle
    //      proves the CHECKS, not just the data) ----
    "q_quality_checks" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val fkViolations = o.join(c, col("o_custkey") === col("c_custkey"),
          "left_anti")
        .agg(lit("orders_custkey_fk").as("check_name"),
             count(lit(1)).as("violations"))
      val pkDupes = o.groupBy("o_orderkey")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(lit("orders_orderkey_unique").as("check_name"),
             count(lit(1)).as("violations"))
      val notNull = o.agg(lit("orders_orderdate_not_null").as("check_name"),
        count(when(col("o_orderdate").isNull, 1)).as("violations"))
      val accepted = o.agg(lit("orders_status_accepted_values").as("check_name"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
          .as("violations"))
      Seq(fkViolations, pkDupes, notNull, accepted).reduce(_ unionByName _)
    }),

    // ---- snapshot diff: keyed added/removed/changed classification
    //      between two versions of a table (full outer join on key) ----
    "q_snapshot_diff" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price"))
      val old = o.filter(pmod(col("k"), lit(10)) < 8)
        .withColumn("price", when(pmod(col("k"), lit(7)) === 0,
          col("price") + 1).otherwise(col("price")))
      val neu = o.filter(pmod(col("k"), lit(10)) < 9)
      old.select(col("k"), col("price").as("old_price"))
        .join(neu.select(col("k"), col("price").as("new_price")),
              Seq("k"), "full_outer")
        .select(col("k"),
          when(col("old_price").isNull, lit("added"))
            .when(col("new_price").isNull, lit("removed"))
            .when(col("old_price") =!= col("new_price"), lit("changed"))
            .otherwise(lit("unchanged")).as("change"))
        .groupBy("change").agg(count(lit(1)).as("n"))
    }),

    // ---- largest-remainder apportionment of a 1M-token budget across
    //      document sources by total chars: quotas sum EXACTLY to the
    //      budget, remainder ties broken by source ----
    "q_apportion" -> ((s, dir) =>
      graft.operators.Allocation.largestRemainder(
        Tables.load(s, dir, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars", budget = 1000000L)
        .withColumnRenamed("k", "source")),

    // ---- per-group mode with deterministic tie-break (highest count,
    //      then lexicographically smallest value) ----
    "q_mode" -> ((s, dir) => {
      val counts = Tables.load(s, dir, "part")
        .groupBy(col("p_type"), col("p_brand"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("p_type")
        .orderBy(col("n").desc, col("p_brand"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("p_type"), col("p_brand").as("mode_brand"), col("n"))
    }),

    // ---- throttle/debounce: keep an event only if ≥60 s after its
    //      predecessor in the same (user, type) stream ----
    "q_throttle" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
                col("ts_ns"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .filter(col("prev_ns").isNull ||
                col("ts_ns") - col("prev_ns") >= expr("60000000000"))
        .select(col("user_id"), col("event_type"), col("event_id"))
    }),

    // ---- floor-at-zero running balance WITHOUT a sequential
    //      recurrence: b_i = max(0, b_{i-1} + d_i) unrolls to
    //      prefix_i − least(0, min_{j≤i} prefix_j) — two window
    //      passes over one sort, fully parallel per part ----
    "q_capped_balance" -> ((s, dir) =>
      graft.operators.Series.cappedBalance(
        Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"),
            when(col("l_linestatus") === "F", col("l_quantity"))
              .otherwise(-col("l_quantity")).cast("long").as("delta")),
        "l_partkey", Seq("l_shipdate", "l_orderkey", "l_linenumber"),
        "delta")
        .select("l_partkey", "l_orderkey", "l_linenumber", "delta",
                "balance")),

    // ---- hierarchical contribution: each nation's share of its
    //      region's customer order volume, ppm ----
    "q_share_of_parent" -> ((s, dir) => {
      val vol = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "nation"),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_nationkey"))
        .agg(count(lit(1)).as("n_orders"))
      val wr = Window.partitionBy("n_regionkey")
      vol.withColumn("region_orders", sum("n_orders").over(wr))
        .select(col("n_regionkey"), col("n_nationkey"), col("n_orders"),
          col("region_orders"),
          expr("n_orders * 1000000 div region_orders").as("share_ppm"))
    }),

    // ---- order-independent dataset fingerprint: bit_xor of 60-bit
    //      row hashes — partition/order/engine independent, the
    //      manifest-level "did replication change anything" check ----
    "q_table_checksum" -> ((s, dir) => {
      val rowHash = graft.functions.Dedup.md5Hash60(
        concat_ws("", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority")))
      Tables.load(s, dir, "orders")
        .select(rowHash.as("h"))
        .agg(expr("bit_xor(h)").as("xor_hash"), count(lit(1)).as("n_rows"),
             sum(expr("h % 1000000007")).as("mod_sum"))
    }),

    // ---- k-anonymity audit: quasi-identifier group sizes at the fine
    //      level (nation, segment, balance bucket) with the coarse
    //      generalization (drop the balance bucket) joined beside it —
    //      per group: is it re-identifiable (k < 5), and does
    //      generalizing rescue it? Balance buckets shift cents by +1e6
    //      before integer div so negative balances bucket by FLOOR in
    //      both engines (Spark `div` truncates toward zero, DuckDB `//`
    //      floors — they agree only on non-negatives) ----
    "q_k_anon" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 1000000) div 100000")
            .as("bal_bucket"))
      val fine = c.groupBy("nation", "segment", "bal_bucket")
        .agg(count(lit(1)).as("k_fine"))
      val coarse = c.groupBy("nation", "segment")
        .agg(count(lit(1)).as("k_coarse"))
      fine.join(broadcast(coarse), Seq("nation", "segment"))
        .select(col("nation"), col("segment"), col("bal_bucket"),
          col("k_fine"), col("k_coarse"),
          when(col("k_fine") < 5, 1L).otherwise(0L).as("risky"),
          when(col("k_fine") < 5 && col("k_coarse") >= 5, 1L)
            .otherwise(0L).as("generalize_rescues"))
    }),

    // ---- dataset card: the per-source corpus summary sheet — doc and
    //      char counts, language spread, length extremes, short-doc
    //      share; one groupBy over the documents table ----
    "q_dataset_card" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("n_short"))
        .withColumn("mean_chars_micro",
          expr("total_chars * 1000000 div n_docs"))
        .withColumn("short_ppm", expr("n_short * 1000000 div n_docs"))),

    // ---- exact join-size prediction: |A ⋈ B| on a key WITHOUT
    //      executing the join — the inner product of the two per-key
    //      count vectors (what a cost-based optimizer estimates with
    //      sketches, computed exactly here on the pre-aggregated key
    //      dimension). Also surfaces the largest single-key
    //      contribution, the number AQE's skew handling cares about ----
    "q_join_size" -> ((s, dir) => {
      val a = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cnt_a"))
      val b = Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("cnt_b"))
      a.join(b, "k")
        .agg(sum(col("cnt_a") * col("cnt_b")).as("join_rows"),
          count(lit(1)).as("shared_keys"),
          max(col("cnt_a") * col("cnt_b")).as("max_key_contrib"))
    }),

    // ---- skew report: per candidate shuffle key, the numbers that
    //      decide partitioning strategy — key count, heaviest key's
    //      row share (ppm), and heaviest-vs-mean skew ratio. One
    //      groupBy per column, union'd; all map-side-combinable ----
    "q_skew_report" -> ((s, dir) => {
      def stats(df: DataFrame, keyCol: String, name: String) = {
        df.groupBy(col(keyCol).cast("long").as("k"))
          .agg(count(lit(1)).as("cnt"))
          .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
            max("cnt").as("max_cnt"))
          .select(lit(name).as("join_key"), col("n_rows"), col("n_keys"),
            col("max_cnt"),
            expr("max_cnt * 1000000 div n_rows").as("top1_ppm"),
            expr("max_cnt * n_keys * 1000000 div n_rows")
              .as("skew_ratio_ppm"))
      }
      stats(Tables.load(s, dir, "orders"), "o_custkey", "orders.o_custkey")
        .unionByName(stats(Tables.load(s, dir, "lineitem"), "l_partkey",
          "lineitem.l_partkey"))
        .unionByName(stats(Tables.load(s, dir, "lineitem"), "l_suppkey",
          "lineitem.l_suppkey"))
        .unionByName(stats(Tables.events(s, dir), "user_id",
          "events.user_id"))
    }),

    // ---- functional-dependency audit: does LHS determine RHS? Three
    //      candidate FDs checked as hash aggregations (one shuffle per
    //      candidate, on the LHS key); a group with >1 distinct RHS is
    //      a violation ----
    "q_fd_check" -> ((s, dir) => {
      def fd(df: DataFrame, name: String, lhs: String, rhs: String) =
        df.groupBy(col(lhs))
          .agg(countDistinct(col(rhs)).as("d"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating"),
            max("d").as("max_rhs"))
          .select(lit(name).as("fd"), col("n_groups"),
            col("n_violating"), col("max_rhs"))
      fd(Tables.load(s, dir, "orders"), "o_custkey->o_orderpriority",
          "o_custkey", "o_orderpriority")
        .unionByName(fd(Tables.load(s, dir, "lineitem"),
          "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
        .unionByName(fd(Tables.load(s, dir, "customer"),
          "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
    }),

    // ---- referential-integrity audit: orphan foreign keys per edge of
    //      the star schema. Each check is a broadcast LEFT join against
    //      the (distinct) dimension key — fact side never shuffles ----
    "q_ref_integrity" -> ((s, dir) => {
      def orphans(fact: DataFrame, key: String, dim: DataFrame,
                  dkey: String, name: String) =
        fact.select(col(key).as("k"))
          .join(broadcast(dim.select(col(dkey).as("dk")).distinct()),
            col("k") === col("dk"), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("dk").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("chk"), col("n_rows"), col("n_orphans"))
      val cust = Tables.load(s, dir, "customer")
      orphans(Tables.load(s, dir, "orders"), "o_custkey", cust,
          "c_custkey", "orders->customer")
        .unionByName(orphans(Tables.load(s, dir, "lineitem"), "l_partkey",
          Tables.load(s, dir, "part"), "p_partkey", "lineitem->part"))
        .unionByName(orphans(Tables.load(s, dir, "lineitem"), "l_suppkey",
          Tables.load(s, dir, "supplier"), "s_suppkey",
          "lineitem->supplier"))
        .unionByName(orphans(Tables.events(s, dir), "user_id", cust,
          "c_custkey", "events->customer"))
    }),

    // ---- l-diversity audit (companion to q_k_anon): per
    //      quasi-identifier group (nation, segment), how many DISTINCT
    //      sensitive values (thousand-dollar balance band) — a group
    //      below l=3 is re-identifiable by attribute disclosure even
    //      when k-anonymous. Bands shift positive before the integer
    //      division (negative balances exist) ----
    "q_l_diversity" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000) div 100000")
            .as("band"))
        .groupBy("nation", "segment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("n_sens"))
        .withColumn("meets_l3",
          when(col("n_sens") >= 3, 1L).otherwise(0L))),

    // ---- range-partitioner boundary estimation (what Spark's
    //      RangePartitioning does before a global sort at scale):
    //      deterministic 1/97 key sample, 31 split points at the
    //      sample's ntile positions. The sort runs over the SAMPLE
    //      only — the full table is never globally ordered ----
    "q_range_boundaries" -> ((s, dir) => {
      val samp = Tables.load(s, dir, "orders")
        .filter(expr("o_orderkey % 97 = 0"))
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
          .as("cents"), col("o_orderkey"))
      val rk = samp.withColumn("rk", row_number().over(
        Window.orderBy(col("cents"), col("o_orderkey"))))
      val pos = samp.agg(count(lit(1)).as("n_s"))
        .select(explode(expr("sequence(1L, 31L)")).as("bucket"), col("n_s"))
        .select(col("bucket"), expr("bucket * n_s div 32").as("rk"))
      rk.join(broadcast(pos), Seq("rk"))
        .select(col("bucket"), col("cents").as("boundary_cents"))
    }),

    // ---- Z-order (Morton) curve bucketing over (custkey, nation):
    //      bit-interleave 5+5 bits arithmetically — the address math
    //      behind [[graft.sources.ZOrderLayout]]'s multi-dimensional
    //      clustering, verified cross-engine ----
    "q_zvalue" -> ((s, dir) => {
      val z = (0 until 5).map(i =>
        s"((x div ${1 << i}) % 2) * ${1L << (2 * i)} + " +
        s"((y div ${1 << i}) % 2) * ${1L << (2 * i + 1)}").mkString(" + ")
      Tables.load(s, dir, "customer")
        .select(expr("c_custkey % 32").as("x"),
          expr("cast(c_nationkey as bigint) % 32").as("y"))
        .select(expr(z).as("z"))
        .groupBy(expr("z div 64").as("bucket"))
        .agg(count(lit(1)).as("n"), min("z").as("min_z"),
          max("z").as("max_z"))
    }),

    // ---- zone-map pruning, layout A/B: the same custkey predicate
    //      against per-file min/max stats under a custkey-clustered
    //      layout vs a date-append layout — the number that justifies
    //      re-clustering a 100-TB table. Pseudo-files are 64ths of
    //      each layout's order; stats and the prune test are the
    //      standard zone-map arithmetic ----
    "q_scan_pruning" -> ((s, dir) => {
      // NO pin (round-14): with GlobalOrder's literal-bounds numbering
      // every consumer of this 3-col projection — both layouts'
      // numberings, the bounds aggregate, the cardinality gate — is a
      // key-pruned parquet re-scan, which the page cache makes cheap.
      // The r13 eager checkpoint of this frame held ~4 GB of block
      // storage against the window sorts' execution memory and was
      // one of the two pins that killed the 8 g sf100 run; rescans
      // are the distributed-right shape (a cluster re-reads pruned
      // columns; it does not hold a fact table hostage in storage)
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("cast(datediff(o_orderdate, date'1970-01-01') as bigint)")
            .as("day"))
      val nOrders = o.count()
      val bounds = o.agg(min("o_custkey").as("mn"), max("o_custkey").as("mx"))
        .select(expr("mn + (mx - mn) * 4 div 10").as("lo"),
          expr("mn + (mx - mn) * 5 div 10").as("hi"))
      // file assignment = global NTILE(64) over each layout's order —
      // auto-gated distributed numbering (the window form sorted the
      // whole fact table through one task TWICE; the distributed form
      // engages once the pinned count crosses the threshold)
      def layout(name: String, sortCols: Seq[org.apache.spark.sql.Column]) =
        graft.operators.GlobalOrder.withNtileAuto(o, 64, sortCols, "file_id",
            bound = Some(nOrders))
          .groupBy("file_id")
          .agg(min("o_custkey").as("mn_ck"), max("o_custkey").as("mx_ck"))
          .crossJoin(broadcast(bounds))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mx_ck") < col("lo") || col("mn_ck") > col("hi"),
              1L).otherwise(0L)).as("n_pruned"))
          .select(lit(name).as("layout"), col("n_files"), col("n_pruned"))
      layout("clustered_by_custkey", Seq(col("o_custkey"), col("o_orderkey")))
        .unionByName(layout("appended_by_date", Seq(col("day"), col("o_orderkey"))))
    }),

    // ---- dictionary-encodability audit: distinct-value density per
    //      column (ndv·1e6/n) — the layout signal for dictionary vs
    //      plain encoding at write time. One pass per column, unioned ----
    "q_dict_encodability" -> ((s, dir) => {
      def card(df: DataFrame, c: String, table: String) =
        df.agg(count(lit(1)).as("n"),
            countDistinct(col(c)).as("ndv"))
          .select(lit(s"$table.$c").as("column_name"), col("n"), col("ndv"),
            expr("ndv * 1000000 div n").as("ndv_ppm"))
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      card(li, "l_returnflag", "lineitem")
        .unionByName(card(li, "l_suppkey", "lineitem"))
        .unionByName(card(li, "l_extendedprice", "lineitem"))
        .unionByName(card(o, "o_orderpriority", "orders"))
        .unionByName(card(o, "o_custkey", "orders"))
        .unionByName(card(o, "o_totalprice", "orders"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_scd2" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events),
      ch AS (SELECT user_id, event_type AS state, ts_ns, event_id FROM (
               SELECT user_id, event_type, ts_ns, event_id,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts_ns, event_id) AS prev
               FROM e)
             WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, state,
             row_number() OVER w AS version,
             ts_ns AS valid_from,
             lead(ts_ns) OVER w AS valid_to,
             lead(ts_ns) OVER w IS NULL AS is_current
      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    """,
    "q_cdc_latest" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events)
      SELECT user_id, state, last_ts FROM (
        SELECT user_id, event_type AS state, ts_ns AS last_ts,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_ns DESC, event_id DESC) AS rn
        FROM e)
      WHERE rn = 1 AND state <> 'error'
    """,
    "q_bloom_join" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 480000.0
    """,

    "q_salted_agg" -> """
      SELECT l_returnflag AS rf,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
               AS sum_cents,
             count(*) AS count_cents
      FROM lineitem GROUP BY 1
    """,

    "q_cdc_chunks" -> s"""
      WITH pos AS (
        SELECT doc_id, e,
               list_sum(list_transform(range(0, 16), j ->
                 ord(substr(text, e - 15 + j, 1))::BIGINT * $rabinPows[j + 1]))
                 % 2147483647 AS h
        FROM (SELECT doc_id, text, unnest(range(16, length(text) + 1)) AS e
              FROM documents)),
      agg AS (SELECT doc_id, count(*) AS nb, sum(e) AS bsum, min(e) AS fc
              FROM pos WHERE h % 64 = 0 GROUP BY 1)
      SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
             coalesce(nb, 0)::BIGINT AS n_boundaries,
             (coalesce(nb, 0) + 1)::BIGINT AS n_chunks,
             coalesce(bsum, 0)::BIGINT AS boundary_sum,
             coalesce(fc, 0)::BIGINT AS first_cut
      FROM documents d LEFT JOIN agg USING (doc_id)
    """,

    "q_pseudonymize" -> """
      WITH cust AS (SELECT ('0x' || substr(md5('v1:' || c_custkey::VARCHAR),
                              1, 15))::BIGINT AS pid,
                           c_nationkey AS nation
                    FROM customer),
      ord AS (SELECT ('0x' || substr(md5('v1:' || o_custkey::VARCHAR),
                        1, 15))::BIGINT AS pid
              FROM orders),
      oc AS (SELECT pid, count(*) AS n_orders FROM ord GROUP BY 1)
      SELECT nation, count(*) AS n_customers,
             sum(coalesce(n_orders, 0))::BIGINT AS n_orders,
             min(pid) AS min_pid, max(pid) AS max_pid
      FROM cust LEFT JOIN oc USING (pid)
      GROUP BY nation
    """,

    "q_profile" -> """
      SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             count(*) FILTER (o_orderkey IS NULL) AS n_null,
             count(DISTINCT o_orderkey) AS n_distinct,
             min(o_orderkey::VARCHAR) AS min_str,
             max(o_orderkey::VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*),
             count(*) FILTER (o_custkey IS NULL),
             count(DISTINCT o_custkey),
             min(o_custkey::VARCHAR), max(o_custkey::VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             count(*) FILTER (o_orderstatus IS NULL),
             count(DISTINCT o_orderstatus),
             min(o_orderstatus), max(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*),
             count(*) FILTER (o_orderpriority IS NULL),
             count(DISTINCT o_orderpriority),
             min(o_orderpriority), max(o_orderpriority)
      FROM orders
    """,

    "q_quality_checks" -> """
      SELECT 'orders_custkey_fk' AS check_name,
             count(*) FILTER (c.c_custkey IS NULL) AS violations
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'orders_orderkey_unique',
             count(*) FROM (SELECT o_orderkey FROM orders
                            GROUP BY 1 HAVING count(*) > 1)
      UNION ALL
      SELECT 'orders_orderdate_not_null',
             count(*) FILTER (o_orderdate IS NULL) FROM orders
      UNION ALL
      SELECT 'orders_status_accepted_values',
             count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))
      FROM orders
    """,

    "q_snapshot_diff" -> """
      WITH o AS (SELECT o_orderkey AS k,
                        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS price
                 FROM orders),
      old AS (SELECT k, CASE WHEN k % 7 = 0 THEN price + 1 ELSE price END
                       AS old_price
              FROM o WHERE k % 10 < 8),
      neu AS (SELECT k, price AS new_price FROM o WHERE k % 10 < 9)
      SELECT CASE WHEN old_price IS NULL THEN 'added'
                  WHEN new_price IS NULL THEN 'removed'
                  WHEN old_price <> new_price THEN 'changed'
                  ELSE 'unchanged' END AS change,
             count(*) AS n
      FROM old FULL OUTER JOIN neu USING (k)
      GROUP BY 1
    """,

    "q_apportion" -> """
      WITH w AS (SELECT source AS k, sum(n_chars)::HUGEINT AS wt
                 FROM documents GROUP BY 1),
      t AS (SELECT sum(wt) AS tot FROM w),
      b AS (SELECT k, wt, (wt * 1000000) // tot AS base_quota,
                   (wt * 1000000) % tot AS rem FROM w, t),
      u AS (SELECT sum(base_quota) AS used FROM b),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, k) AS rk FROM b)
      SELECT k AS source, wt::BIGINT AS weight, base_quota::BIGINT AS base_quota,
             (base_quota +
              CASE WHEN rk <= 1000000 - used THEN 1 ELSE 0 END)::BIGINT AS quota
      FROM r, u
    """,

    "q_mode" -> """
      WITH c AS (SELECT p_type, p_brand, count(*) AS n FROM part GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY p_type
                                         ORDER BY n DESC, p_brand) AS rk
            FROM c)
      SELECT p_type, p_brand AS mode_brand, n FROM r WHERE rk = 1
    """,

    "q_throttle" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_ns(ts) // 1000 AS ts_us FROM events),
      l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts_us, event_id) AS prev_us
            FROM e)
      SELECT user_id, event_type, event_id FROM l
      WHERE prev_us IS NULL OR ts_us - prev_us >= 60000000
    """,

    "q_capped_balance" -> """
      WITH d AS (SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
                        (CASE WHEN l_linestatus = 'F' THEN l_quantity
                              ELSE -l_quantity END)::BIGINT AS delta
                 FROM lineitem),
      p1 AS (SELECT *, sum(delta) OVER w AS prefix FROM d
             WINDOW w AS (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING)),
      p2 AS (SELECT *, least(0, min(prefix) OVER w) AS low FROM p1
             WINDOW w AS (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING))
      SELECT l_partkey, l_orderkey, l_linenumber, delta,
             (prefix - low)::BIGINT AS balance
      FROM p2
    """,

    "q_share_of_parent" -> """
      WITH vol AS (SELECT n_regionkey, n_nationkey, count(*) AS n_orders
                   FROM orders JOIN customer ON o_custkey = c_custkey
                               JOIN nation ON c_nationkey = n_nationkey
                   GROUP BY 1, 2)
      SELECT n_regionkey, n_nationkey, n_orders,
             sum(n_orders) OVER (PARTITION BY n_regionkey)::BIGINT
               AS region_orders,
             (n_orders * 1000000 //
              sum(n_orders) OVER (PARTITION BY n_regionkey))::BIGINT
               AS share_ppm
      FROM vol
    """,

    "q_table_checksum" -> """
      WITH h AS (SELECT ('0x' || substr(md5(
                   o_orderkey::VARCHAR || o_custkey::VARCHAR ||
                   o_orderstatus ||
                   (floor(o_totalprice * 100 + 0.5)::BIGINT)::VARCHAR ||
                   strftime(o_orderdate, '%Y-%m-%d') ||
                   o_orderpriority), 1, 15))::BIGINT AS h
                 FROM orders)
      SELECT bit_xor(h)::BIGINT AS xor_hash, count(*) AS n_rows,
             sum(h % 1000000007)::BIGINT AS mod_sum
      FROM h
    """,

    // +1e6 cents shift keeps the bucket div on non-negatives, where
    // Spark `div` (truncate) and DuckDB `//` (floor) agree
    "q_k_anon" -> """
      WITH c AS (SELECT c_nationkey::BIGINT AS nation,
                        c_mktsegment AS segment,
                        (floor(c_acctbal * 100 + 0.5)::BIGINT + 1000000)
                          // 100000 AS bal_bucket
                 FROM customer),
      fine AS (SELECT nation, segment, bal_bucket, count(*) AS k_fine
               FROM c GROUP BY 1, 2, 3),
      coarse AS (SELECT nation, segment, count(*) AS k_coarse
                 FROM c GROUP BY 1, 2)
      SELECT nation, segment, bal_bucket, k_fine, k_coarse,
             (CASE WHEN k_fine < 5 THEN 1 ELSE 0 END)::BIGINT AS risky,
             (CASE WHEN k_fine < 5 AND k_coarse >= 5 THEN 1 ELSE 0 END)::BIGINT
               AS generalize_rescues
      FROM fine JOIN coarse USING (nation, segment)
    """,

    "q_dataset_card" -> """
      SELECT source, count(*) AS n_docs,
             sum(n_chars)::BIGINT AS total_chars,
             count(DISTINCT lang) AS n_langs,
             min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT
               AS n_short,
             (sum(n_chars) * 1000000 // count(*))::BIGINT
               AS mean_chars_micro,
             (sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS short_ppm
      FROM documents GROUP BY 1
    """,

    "q_join_size" -> """
      WITH a AS (SELECT o_custkey AS k, count(*) AS cnt_a
                 FROM orders GROUP BY 1),
      b AS (SELECT user_id AS k, count(*) AS cnt_b
            FROM events GROUP BY 1)
      SELECT sum(cnt_a * cnt_b)::BIGINT AS join_rows,
             count(*) AS shared_keys,
             max(cnt_a * cnt_b)::BIGINT AS max_key_contrib
      FROM a JOIN b USING (k)
    """,

    "q_skew_report" -> """
      WITH s1 AS (SELECT o_custkey::BIGINT AS k FROM orders),
      s2 AS (SELECT l_partkey::BIGINT AS k FROM lineitem),
      s3 AS (SELECT l_suppkey::BIGINT AS k FROM lineitem),
      s4 AS (SELECT user_id::BIGINT AS k FROM events),
      agg AS (
        SELECT 'orders.o_custkey' AS join_key, count(*) AS cnt
        FROM s1 GROUP BY k
        UNION ALL SELECT 'lineitem.l_partkey', count(*)
        FROM s2 GROUP BY k
        UNION ALL SELECT 'lineitem.l_suppkey', count(*)
        FROM s3 GROUP BY k
        UNION ALL SELECT 'events.user_id', count(*)
        FROM s4 GROUP BY k)
      SELECT join_key, sum(cnt)::BIGINT AS n_rows, count(*) AS n_keys,
             max(cnt)::BIGINT AS max_cnt,
             (max(cnt) * 1000000 // sum(cnt))::BIGINT AS top1_ppm,
             (max(cnt) * count(*) * 1000000 // sum(cnt))::BIGINT
               AS skew_ratio_ppm
      FROM agg GROUP BY 1
    """,

    "q_fd_check" -> """
      WITH f1 AS (SELECT o_custkey AS k,
                         count(DISTINCT o_orderpriority)::BIGINT AS d
                  FROM orders GROUP BY 1),
      f2 AS (SELECT l_orderkey AS k,
                    count(DISTINCT l_returnflag)::BIGINT AS d
             FROM lineitem GROUP BY 1),
      f3 AS (SELECT c_nationkey AS k,
                    count(DISTINCT c_mktsegment)::BIGINT AS d
             FROM customer GROUP BY 1)
      SELECT 'o_custkey->o_orderpriority' AS fd, count(*) AS n_groups,
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
             max(d) AS max_rhs
      FROM f1
      UNION ALL
      SELECT 'l_orderkey->l_returnflag', count(*),
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)
      FROM f2
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment', count(*),
             sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)
      FROM f3
    """,

    "q_ref_integrity" -> """
      SELECT 'orders->customer' AS chk, count(*) AS n_rows,
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'lineitem->part', count(*),
             sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem->supplier', count(*),
             sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'events->customer', count(*),
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,

    "q_l_diversity" -> """
      SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
             count(*) AS n,
             count(DISTINCT (floor(c_acctbal * 100 + 0.5)::BIGINT + 100000)
                            // 100000) AS n_sens,
             (CASE WHEN count(DISTINCT (floor(c_acctbal * 100 + 0.5)::BIGINT
                                        + 100000) // 100000) >= 3
                   THEN 1 ELSE 0 END)::BIGINT AS meets_l3
      FROM customer
      GROUP BY 1, 2
    """,

    "q_range_boundaries" -> """
      WITH samp AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT
                             AS cents, o_orderkey
                    FROM orders WHERE o_orderkey % 97 = 0),
      rk AS (SELECT cents,
                    row_number() OVER (ORDER BY cents, o_orderkey)::BIGINT
                      AS rk
             FROM samp),
      pos AS (SELECT bucket::BIGINT AS bucket,
                     bucket * (SELECT count(*) FROM samp) // 32 AS rk
              FROM (SELECT unnest(range(1, 32)) AS bucket))
      SELECT bucket, cents AS boundary_cents
      FROM rk JOIN pos USING (rk)
    """,

    "q_zvalue" -> s"""
      WITH xy AS (SELECT c_custkey % 32 AS x,
                         c_nationkey::BIGINT % 32 AS y
                  FROM customer),
      zv AS (SELECT ${(0 until 5).map(i =>
              s"((x // ${1 << i}) % 2) * ${1L << (2 * i)} + " +
              s"((y // ${1 << i}) % 2) * ${1L << (2 * i + 1)}")
              .mkString(" + ")} AS z
             FROM xy)
      SELECT z // 64 AS bucket, count(*) AS n,
             min(z) AS min_z, max(z) AS max_z
      FROM zv GROUP BY 1
    """,

    "q_scan_pruning" -> """
      WITH o AS (SELECT o_custkey, o_orderkey,
                        date_diff('day', DATE '1970-01-01',
                          o_orderdate)::BIGINT AS day
                 FROM orders),
      bounds AS (SELECT min(o_custkey) + (max(o_custkey) - min(o_custkey))
                          * 4 // 10 AS lo,
                        min(o_custkey) + (max(o_custkey) - min(o_custkey))
                          * 5 // 10 AS hi
                 FROM o),
      ck AS (SELECT ntile(64) OVER (ORDER BY o_custkey, o_orderkey)
                      ::BIGINT AS file_id, o_custkey
             FROM o),
      dt AS (SELECT ntile(64) OVER (ORDER BY day, o_orderkey)
                      ::BIGINT AS file_id, o_custkey
             FROM o),
      cks AS (SELECT file_id, min(o_custkey) AS mn_ck,
                     max(o_custkey) AS mx_ck
              FROM ck GROUP BY 1),
      dts AS (SELECT file_id, min(o_custkey) AS mn_ck,
                     max(o_custkey) AS mx_ck
              FROM dt GROUP BY 1)
      SELECT 'clustered_by_custkey' AS layout, count(*) AS n_files,
             sum(CASE WHEN mx_ck < lo OR mn_ck > hi THEN 1 ELSE 0 END)
               ::BIGINT AS n_pruned
      FROM cks CROSS JOIN bounds
      UNION ALL
      SELECT 'appended_by_date', count(*),
             sum(CASE WHEN mx_ck < lo OR mn_ck > hi THEN 1 ELSE 0 END)
               ::BIGINT
      FROM dts CROSS JOIN bounds
    """,

    "q_dict_encodability" -> """
      SELECT 'lineitem.l_returnflag' AS column_name, count(*) AS n,
             count(DISTINCT l_returnflag)::BIGINT AS ndv,
             count(DISTINCT l_returnflag) * 1000000 // count(*) AS ndv_ppm
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_suppkey', count(*),
             count(DISTINCT l_suppkey)::BIGINT,
             count(DISTINCT l_suppkey) * 1000000 // count(*)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_extendedprice', count(*),
             count(DISTINCT l_extendedprice)::BIGINT,
             count(DISTINCT l_extendedprice) * 1000000 // count(*)
      FROM lineitem
      UNION ALL
      SELECT 'orders.o_orderpriority', count(*),
             count(DISTINCT o_orderpriority)::BIGINT,
             count(DISTINCT o_orderpriority) * 1000000 // count(*)
      FROM orders
      UNION ALL
      SELECT 'orders.o_custkey', count(*),
             count(DISTINCT o_custkey)::BIGINT,
             count(DISTINCT o_custkey) * 1000000 // count(*)
      FROM orders
      UNION ALL
      SELECT 'orders.o_totalprice', count(*),
             count(DISTINCT o_totalprice)::BIGINT,
             count(DISTINCT o_totalprice) * 1000000 // count(*)
      FROM orders
    """,
  )
}
