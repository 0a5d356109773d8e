package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.retention.{EventsAdapter, Retention, StarAdapter}
import QueryHelpers._

/** Stats query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object StatsQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- weighted median per group, integer-exact: smallest value
    //      whose doubled cumulative weight reaches the total ----
    "q_weighted_median" -> ((s, dir) => {
      // histogram crossing straight over the raw fact rows — no sort,
      // no per-value pre-aggregate (cents are near-unique, so that
      // "reduction" would materialize the corpus), no cumulative walk
      // (Stats.groupedWeightedCrossings scaladoc)
      val d = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"))
      val totals = d.groupBy("rf").agg(sum("w").as("total_weight"))
      graft.operators.Stats.groupedWeightedCrossing(
          d, Seq("rf"), "cents", "w", k = 2, m = 1, out = "median_cents")
        .join(broadcast(totals), "rf")
        .select("rf", "median_cents", "total_weight")
    }),

    // ---- grouped OLS: price-vs-quantity trend per return flag,
    //      integer-exact sufficient statistics + fixed-point fit ----
    "q_regression" -> ((s, dir) =>
      graft.operators.Stats.linearFitGrouped(
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
            col("l_quantity").cast("long").as("qty"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long")
              .as("cents")),
        Seq("rf"), col("qty"), col("cents"))),

    // ---- robust location/scale per group: median + MAD over price
    //      cents, crossing-rule exact (no interpolation) ----
    "q_mad" -> ((s, dir) =>
      graft.operators.Stats.medianAbsDev(
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long")
              .as("cents")),
        Seq("rf"), col("cents"))),

    // ---- equi-depth quartile assignment per group: (rank−1)·4 div n
    //      (ntile semantics differ across engines; the rank formula
    //      with value-only ties is the portable contract) ----
    //      NO ordering of the fact table: quantity is a BOUNDED
    //      integer domain (1..50), so the per-(flag, value) weight
    //      table is a few hundred rows at ANY corpus scale; rank with
    //      ties = 1 + cumulative weight of strictly-smaller values,
    //      computed on that tiny table and broadcast back ----
    "q_quartile_assign" -> ((s, dir) => {
      val base = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                col("l_quantity").cast("long").as("qty"))
      val byVal = base.groupBy("l_returnflag", "qty")
        .agg(count(lit(1)).as("w"))
      val wq = Window.partitionBy("l_returnflag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranks = byVal
        .withColumn("cum", sum("w").over(wq))
        .withColumn("rk", col("cum") - col("w") + 1)
        .withColumn("n", sum("w").over(Window.partitionBy("l_returnflag")))
        .select("l_returnflag", "qty", "rk", "n")
      base.join(broadcast(ranks), Seq("l_returnflag", "qty"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                col("qty"), expr("(rk - 1) * 4 div n").as("quartile"))
    }),

    // ---- 2-D skyline (Pareto frontier: min price, min size) per part
    //      type. Spark side: two value-range window minima — dominated
    //      iff some strictly-cheaper row has size ≤ s, or some
    //      equal-price row has size < s. O(n log n), partition-
    //      parallel; the oracle states the same dominance as a
    //      NOT EXISTS anti-join ----
    "q_skyline" -> ((s, dir) => {
      graft.operators.Skyline.pareto2d(
        Tables.load(s, dir, "part")
          .select(col("p_type"), col("p_partkey"),
            floor(col("p_retailprice") * 100 + 0.5).cast("long").as("cents"),
            col("p_size").cast("long").as("size")),
        Seq("p_type"), col("cents"), col("size"))
    }),

    // ---- Benford first-digit profile of order totals (data-quality /
    //      fraud screen): leading digit via string head — portable,
    //      no float log10 ----
    "q_benford" -> ((s, dir) => {
      val d = Tables.load(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
          .as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum("n").as("total"))))
        .select(col("digit"), col("n"),
          expr("cast(n as decimal(38,0)) * 1000000 div total")
            .as("share_ppm"))
    }),

    // ---- market concentration: Herfindahl index of order volume per
    //      customer nation, ppm shares squared (integer-exact) ----
    "q_hhi" -> ((s, dir) => {
      val perCust = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(count(lit(1)).as("cnt"))
      val wn = Window.partitionBy("c_nationkey")
      perCust
        .withColumn("tot", sum("cnt").over(wn))
        .select(col("c_nationkey"),
          expr("cnt * 1000000 div tot").as("share_ppm"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
             sum(expr("share_ppm * share_ppm")).as("hhi_pps"))
    }),

    // ---- winsorized aggregates: clamp price cents to the crossing-
    //      rule P05/P95 per group, then sum — the outlier-robust total
    //      (crossing rule: smallest v with 20·cum ≥ total / ≥ 19·total,
    //      integer-exact, same family as weighted median and MAD) ----
    "q_winsorize" -> ((s, dir) => {
      val d = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
        .withColumn("w", lit(1L))
      // P05 and P95 are two crossing ratios over ONE shared histogram
      // of the raw rows — no sort, no per-value pre-aggregate, no
      // cumulative walk (Stats.groupedWeightedCrossings scaladoc)
      val bounds = graft.operators.Stats.groupedWeightedCrossings(
        d, Seq("rf"), "v", "w",
        Seq((20L, 1L, "p05"), (20L, 19L, "p95")))
      d.join(broadcast(bounds), "rf")
        .groupBy("rf", "p05", "p95")
        .agg(sum(greatest(col("p05"), least(col("p95"), col("v"))))
               .as("winsorized_cents"),
             count(lit(1)).as("n"))
        .select("rf", "p05", "p95", "winsorized_cents", "n")
    }),

    // ---- Gini inequality of customer order volume per nation,
    //      integer-exact via the rank-sum identity:
    //      G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx), xᵢ ascending ----
    "q_gini" -> ((s, dir) => {
      val perCust = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(count(lit(1)).as("x"))
      // grouped distributed numbering: 25 nations over the customer
      // population is a 25-task window funnel at scale. Auto-gated
      // (round-14): below the threshold the plain grouped window wins
      // by the distributed form's fixed stage tax; the gate persist is
      // also the cache the downstream aggregate hits
      graft.operators.GlobalOrder.withRowNumberAuto(
          perCust, Seq(col("x"), col("c_custkey")), "i",
          groupCols = Seq("c_nationkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
             sum(expr("i * x")).as("six"))
        .select(col("c_nationkey"), col("n"), col("sx"),
          expr("(2 * six - (n + 1) * sx) * 1000000 div (n * sx)")
            .as("gini_ppm"))
    }),

    // ---- percentile rank (relative standing) of each order within
    //      its priority class: (rank−1)·10⁶ div (n−1), value ties
    //      share a rank — engine-portable cume alternative ----
    //      Distributed grouped rank (see q_quartile_assign): 5
    //      priorities over raw orders is a 5-task window funnel ----
    "q_percentile_rank" -> ((s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val totals = base.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      // auto-gated (round-14): 5 priorities over the order population is
      // the 5-task window funnel at scale; below the threshold the plain
      // grouped window skips the distributed form's fixed stage tax.
      // `base` is a scan projection, so the gate is one pruned count —
      // no pin on either branch
      graft.operators.GlobalOrder.withRankAuto(
          base, Seq(col("cents")), "rk", groupCols = Seq("o_orderpriority"))
        .join(broadcast(totals), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
          expr("(rk - 1) * 1000000 div (n - 1)").as("pct_rank_ppm"))
    }),

    // ---- 80/20 concentration: revenue share of the top-20% customers
    //      (ceil(n/5) by revenue desc, ties to smaller custkey) ----
    "q_pareto_8020" -> ((s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      // global rank over the 1-row-per-customer relation WITHOUT the
      // single-partition window (unbounded at 100 TB customer counts).
      // Auto-gated (round-14): the gate persist of `per` is also the
      // cache the `tot` aggregate below hits
      val ranked = graft.operators.GlobalOrder.withRowNumberAuto(
        per, Seq(col("rev").desc, col("o_custkey")), "rk")
      val tot = per.agg(sum("rev").as("total_rev"),
                        count(lit(1)).as("n_cust"))
      ranked.crossJoin(broadcast(tot))
        .filter(col("rk") * 5 <= col("n_cust") + 4) // rk <= ceil(n/5)
        .groupBy("total_rev", "n_cust")
        .agg(count(lit(1)).as("top_cust"), sum("rev").as("top_rev"))
        .select(col("n_cust"), col("top_cust"), col("total_rev"),
          col("top_rev"),
          expr("top_rev * 1000000 div total_rev").as("top_share_ppm"))
    }),

    // ---- Lorenz curve: cumulative revenue share by customer decile
    //      (ascending revenue) — the curve whose area gap is q_gini ----
    "q_lorenz" -> ((s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      val tot = per.agg(count(lit(1)).as("n_cust"),
                        sum("rev").as("total_rev"))
      // auto-gated (round-14): same shape as q_pareto_8020 above
      graft.operators.GlobalOrder.withRowNumberAuto(
          per, Seq(col("rev"), col("o_custkey")), "rk")
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(rk - 1) * 10 div n_cust"))
        .groupBy("decile", "total_rev")
        .agg(count(lit(1)).as("n_cust"), sum("rev").as("dec_rev"))
        .withColumn("cum_rev", sum("dec_rev").over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n_cust"), col("dec_rev"),
          col("cum_rev"),
          expr("cum_rev * 1000000 div total_rev").as("cum_share_ppm"))
    }),

    // ---- chi-square contingency surface: priority × status observed
    //      vs independence-expected counts; per-cell χ² contribution
    //      ×10⁶ computed in DECIMAL(38,0) so the squared numerator
    //      never overflows at any scale (final value ≤ n·10⁶ → BIGINT) ----
    "q_chisq" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
                col("o_orderstatus").as("st"))
      val obs = o.groupBy("pri", "st").agg(count(lit(1)).as("obs"))
      val rt = o.groupBy("pri").agg(count(lit(1)).as("row_tot"))
      val ct = o.groupBy("st").agg(count(lit(1)).as("col_tot"))
      val n = o.agg(count(lit(1)).as("n"))
      obs.join(broadcast(rt), "pri").join(broadcast(ct), "st")
        .crossJoin(broadcast(n))
        .select(col("pri"), col("st"), col("obs"), col("row_tot"),
          col("col_tot"), col("n"),
          expr("cast(row_tot as decimal(38,0)) * col_tot * 1000000 div n")
            .cast("long").as("expected_micro"),
          expr("""cast(
                    (cast(n as decimal(38,0)) * obs - cast(row_tot as decimal(38,0)) * col_tot) *
                    (cast(n as decimal(38,0)) * obs - cast(row_tot as decimal(38,0)) * col_tot) * 1000000 div
                    (cast(n as decimal(38,0)) * row_tot * col_tot)
                  as bigint)""").as("chi_micro"))
    }),

    // ---- cross-source quantile normalization: calibrate each source's
    //      n_chars onto the pooled distribution by rank. Per-source
    //      percentile is a source-partitioned window; the pooled
    //      quantile function is built from DISTINCT-VALUE COUNTS (the
    //      q_mad pre-aggregation trick), so the only unpartitioned
    //      window runs over ~|distinct values| rows, never the corpus,
    //      and the rank→value lookup is a broadcast range join against
    //      that small relation ----
    "q_quantile_norm" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      // auto-gated grouped numbering: a handful of sources over the
      // corpus is a per-source window funnel at scale; below the
      // threshold the plain grouped window wins. The gate persist is
      // also the cache the sibling aggregates (nSrc, vals, total) hit
      val nSrc = d.groupBy("source").agg(count(lit(1)).as("n_src"))
      val ranked = graft.operators.GlobalOrder.withRowNumberAuto(
          d, Seq(col("n_chars"), col("doc_id")), "rk",
          groupCols = Seq("source"))
        .join(broadcast(nSrc), "source")
        .withColumn("p_ppm",
          when(col("n_src") > 1,
            expr("(rk - 1) * 1000000 div (n_src - 1)")).otherwise(0L))
      val vals = d.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(
          Window.orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .select(col("n_chars").as("pool_chars"),
                col("cum_before"), col("cum"))
      val total = d.agg(count(lit(1)).as("n_tot"))
      ranked.crossJoin(broadcast(total))
        .withColumn("target_rk",
          expr("1 + p_ppm * (n_tot - 1) div 1000000"))
        .join(broadcast(vals),
          col("target_rk") > col("cum_before") &&
            col("target_rk") <= col("cum"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("p_ppm"), col("pool_chars").as("norm_chars"))
    }),

    // ---- ABC inventory classification: parts ranked by revenue,
    //      classed A/B/C at 80% / 95% cumulative share (the inventory
    //      twin of q_pareto_8020's customer view). Cumulative window
    //      over the pre-aggregated part dimension; ppm-exact cuts ----
    "q_abc_class" -> ((s, dir) => {
      val per = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      val tot = per.agg(sum("rev").as("total_rev"))
      // auto-gated: numbered relation is keyed by part — dimension-
      // bounded, so the fast path holds until |part| crosses the 1M
      // smallThreshold default. The gate persist doubles as the cache
      // the total-revenue aggregate hits (plan-subtree match; explicit
      // pins and metadata-count bounds were both measured slower and
      // reverted — BASELINE.md round 11)
      graft.operators.GlobalOrder.withRunningSumsAuto(per,
          Seq(col("rev").desc, col("l_partkey")), Seq(col("rev") -> "cum"))
        .crossJoin(broadcast(tot))
        // cum·10⁶ tops BIGINT at ~sf1 total revenue (DuckDB's sum is
        // already HUGEINT, so a Spark wrap would diverge silently) —
        // widen the product through decimal(38,0); the ppm quotient is
        // bounded and lands back in BIGINT
        .withColumn("cum_ppm",
          expr("cast(cast(cum as decimal(38,0)) * 1000000" +
            " div total_rev as bigint)"))
        .withColumn("abc",
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_rev"),
          min("cum_ppm").as("min_cum_ppm"), max("cum_ppm").as("max_cum_ppm"))
    }),

    // ---- robust stats: 10%-trimmed mean per segment. Values shift by
    //      +100000 cents before the integer division so every operand
    //      stays positive (Spark `div` truncates toward zero, DuckDB
    //      `//` floors — they only agree on non-negatives; the shift
    //      is a whole multiple of the divisor path so it subtracts
    //      back out exactly) ----
    "q_trimmed_mean" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"),
          col("c_custkey"))
      val w = Window.partitionBy("segment")
        .orderBy(col("cents"), col("c_custkey"))
      c.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("segment")))
        .filter(col("rk") > expr("n div 10") &&
                col("rk") <= col("n") - expr("n div 10"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_kept"),
          expr("sum(cents + 100000) * 10000 div count(1) - 1000000000")
            .as("trimmed_mean_micro"))
    }),

    // ---- two-sample Kolmogorov–Smirnov distance between the F and O
    //      order-price distributions, exactly: D = max|F1−F2| over the
    //      pooled support, cleared of denominators as
    //      max|cum_f·n_o − cum_o·n_f| (pure integers; the ppm figure
    //      divides once at the end). One global window over DISTINCT
    //      price points, not orders ----
    "q_ks_test" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
          .as("cents"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("is_f"))
      val byV = o.groupBy("cents")
        .agg(sum("is_f").as("cf"), sum(expr("1 - is_f")).as("co"))
      // distinct cents are corpus-proportional — distributed prefix
      // sums, not the single-partition window; BOTH cumulatives ride
      // one ranged pass (chaining would re-range-shuffle the support).
      // Auto-gated (round-14): the pooled support is an aggregate, so
      // the gate persist doubles as its cache for both branches
      val cum = graft.operators.GlobalOrder.withRunningSumsAuto(
          byV, Seq(col("cents")),
          Seq((col("cf"), "cum_f"), (col("co"), "cum_o")))
        .select("cum_f", "cum_o")
      val tot = o.agg(sum("is_f").as("n_f"), sum(expr("1 - is_f")).as("n_o"))
      cum.crossJoin(broadcast(tot))
        .groupBy("n_f", "n_o")
        .agg(max(abs(expr("cum_f * n_o - cum_o * n_f"))).as("d_num"))
        .withColumn("ks_ppm", expr("d_num * 1000000 div (n_f * n_o)"))
    }),

    // ---- Mann–Whitney U between click and purchase event values,
    //      tie-correct and exact: doubled midranks (2·avgrank of a
    //      tied block at offset s, size t, is 2s+t+1 — an integer), so
    //      2R and 2U never see a fraction. Per-value counts first, so
    //      the rank window runs over distinct values ----
    "q_mann_whitney" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(floor(col("value") * 1000000 + 0.5).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"))
      val byV = e.groupBy("v")
        .agg(sum("is_a").as("ca"), count(lit(1)).as("ct"))
      // auto-gated (round-14): distinct support values gate the branch
      val ranked = graft.operators.GlobalOrder.withRunningSumsAuto(
          byV, Seq(col("v")), Seq(col("ct") -> "cum_ct"))
        .withColumn("before", col("cum_ct") - col("ct"))
      val tot = e.agg(sum("is_a").as("n_a"),
        sum(expr("1 - is_a")).as("n_b"))
      ranked.crossJoin(broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(sum(expr("ca * (2 * before + ct + 1)")).as("r2_a"))
        .withColumn("u2_a", expr("r2_a - n_a * (n_a + 1)"))
    }),

    // ---- threshold classification metrics: 2×2 confusion matrix +
    //      integer-exact precision/recall/F1 for a scored column vs a
    //      label. One map-side conditional aggregation — no shuffle of
    //      data rows at any scale ----
    "q_confusion" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"),
          (col("o_orderstatus") === "F").as("lbl"))
      graft.functions.Eval.confusion(o, col("cents") >= 15000000L, col("lbl"))
    }),

    // ---- score calibration table: equi-depth decile bins by the
    //      portable crossing rule, positive rate per bin — the
    //      monotonicity of pos_rate_ppm IS the calibration check ----
    "q_calibration" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"),
          (col("o_orderstatus") === "F").as("lbl"))
      graft.functions.Eval.calibration(o, col("cents"), col("lbl"), 10)
    }),

    // ---- inter-rater agreement (Cohen's kappa) between two boolean
    //      quality filters over the corpus; kappa emitted as an exact
    //      BIGINT fraction (it can be negative, and negative integer
    //      division is not portable cross-engine) ----
    "q_rater_kappa" -> ((s, dir) =>
      graft.functions.Eval.raterAgreement(Tables.load(s, dir, "documents"),
        col("lang") === "en", col("n_chars") >= 200)),

    // ---- one-way ANOVA over account balances by segment, with a
    //      floor-exact contract: each group's sum-of-squares term takes
    //      ONE positive floor division (s² div n), so SSW/SSB/F are
    //      bit-identical across engines — no variance doubles anywhere.
    //      One groupBy + one 5-row reduce; v shifts +100000 cents so
    //      every operand stays nonnegative (negative integer division
    //      is not portable). Squares widen to decimal(38,0) (the
    //      oracle's HUGEINT): s_g² brushes the BIGINT ceiling at sf0.1 ----
    "q_anova" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          (floor(col("c_acctbal") * 100 + 0.5).cast("long") + 100000L)
            .as("v"))
      val g = c.groupBy("seg").agg(count(lit(1)).as("n_g"),
        sum("v").as("s_g"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("ss_g"))
      g.select(col("n_g"), col("s_g"), col("ss_g"),
          expr("ss_g - cast(s_g as decimal(38,0)) * s_g div n_g").as("w_g"))
        .agg(count(lit(1)).as("k"), sum("n_g").as("n"),
          sum("s_g").as("s"), sum("ss_g").as("ss_tot"),
          sum("w_g").as("ssw_d"))
        .select(col("k"), col("n"),
          expr("cast(ss_tot - cast(s as decimal(38,0)) * s div n - ssw_d" +
            " as bigint)").as("ssb"),
          expr("cast(ssw_d as bigint)").as("ssw"))
        .withColumn("f_ppm", expr(
          "cast(cast(ssb as decimal(38,0)) * (n - k) * 1000000" +
          " div (ssw * (k - 1)) as bigint)"))
    }),

    // ---- Spearman rank correlation between order price and date,
    //      exact: ranks are row_number over a deterministic total order
    //      (value, key tiebreak). rho's exact fraction n(n²−1) − 6Σd²
    //      over n(n²−1) grows as n³ (BIGINT wraps at n ≈ 2.1M), so the
    //      whole computation runs in decimal(38,0) — the oracle's
    //      HUGEINT — and the surface is the bounded shifted form
    //      rho_shift_ppm = (rho+1)/2 · 10⁶ ∈ [0, 10⁶]: nonnegative
    //      (so integer division is portable — Spark div truncates,
    //      DuckDB // floors, they agree only on nonnegatives) and
    //      BIGINT at any n. Two value-ranked windows + one reduce ----
    "q_spearman" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          col("o_orderdate"))
      // two TOTAL orders over the raw fact table — the distributed
      // numbering, chained (each is its own range shuffle; the
      // single-partition alternative sorts 15M rows on one core TWICE).
      // Auto-gated (round-14): below the threshold the two plain
      // windows share one tiny sort each instead of paying the
      // distributed form's fixed stage tax twice; `o` is a scan
      // projection, so the outer gate is a pruned count, and the inner
      // result's gate persist replaces the pin the distributed form
      // would have taken on it anyway
      graft.operators.GlobalOrder.withRowNumberAuto(
          graft.operators.GlobalOrder.withRowNumberAuto(
            o, Seq(col("cents"), col("o_orderkey")), "rx"),
          Seq(col("o_orderdate"), col("o_orderkey")), "ry")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast((rx - ry) * (rx - ry) as decimal(38,0))"))
            .as("sum_d2_w"))
        .select(col("n"),
          expr("cast(sum_d2_w as bigint)").as("sum_d2"),
          expr("cast((2 * cast(n as decimal(38,0)) *" +
            " (cast(n as decimal(38,0)) * n - 1) - 6 * sum_d2_w)" +
            " * 1000000 div (2 * cast(n as decimal(38,0)) *" +
            " (cast(n as decimal(38,0)) * n - 1)) as bigint)")
            .as("rho_shift_ppm"))
    }),

    // ---- population-stability buckets (PSI's per-bucket table without
    //      the log): order-value distribution in $50k bands, first vs
    //      last year, with exact ppm shares and drift. Full outer join
    //      keeps bands present in only one year; empty-side shares
    //      coalesce to 0 ----
    "q_psi_buckets" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) div 5000000")
            .as("bucket"))
      val yrs = o.agg(min("yr").as("y0"), max("yr").as("y1"))
      val b = o.crossJoin(broadcast(yrs))
        .filter(col("yr") === col("y0") || col("yr") === col("y1"))
        .groupBy("bucket")
        .agg(sum(when(col("yr") === col("y0"), 1L).otherwise(0L)).as("n0"),
          sum(when(col("yr") === col("y1"), 1L).otherwise(0L)).as("n1"))
      val tot = b.agg(sum("n0").as("big0"), sum("n1").as("big1"))
      b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n0"), col("n1"),
          expr("n0 * 1000000 div big0").as("share0_ppm"),
          expr("n1 * 1000000 div big1").as("share1_ppm"),
          abs(expr("n0 * 1000000 div big0 - n1 * 1000000 div big1"))
            .as("drift_ppm"))
    }),

    // ---- Wald–Wolfowitz runs test on daily order volume: runs of
    //      above/below-median days vs the count expected under
    //      randomness, exactly — lower median (discrete quantile) keeps
    //      everything integral, median-tied days drop (standard
    //      practice), expected runs carried in micro units ----
    "q_runs_test" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(expr("cast(datediff(o_orderdate, date'1970-01-01') as bigint)")
          .as("day"))
        .agg(count(lit(1)).as("n"))
      val med = daily
        .withColumn("rk", row_number().over(Window.orderBy(col("n"), col("day"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rk") === expr("(cnt + 1) div 2"))
        .select(col("n").as("m"))
      val signed = daily.crossJoin(broadcast(med))
        .filter(col("n") =!= col("m"))
        .select(col("day"), when(col("n") > col("m"), 1L).otherwise(0L)
          .as("above"))
      val flips = signed
        .withColumn("prev", lag("above", 1).over(Window.orderBy("day")))
        .select(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L).as("new_run"), col("above"))
      flips.agg(sum(when(col("above") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("above") === 0, 1L).otherwise(0L)).as("n2"),
          sum("new_run").as("runs"))
        .withColumn("expected_micro",
          expr("1000000 + 2 * n1 * n2 * 1000000 div (n1 + n2)"))
    }),

    // ---- deterministic bootstrap: 32 half-sample replicas of the mean
    //      order value, membership decided by a per-replica
    //      multiplicative hash (no RNG state, reproducible across
    //      engines and partitionings). The replica spread is the CI;
    //      map-side fan-out ×32 then one hash aggregation ----
    "q_bootstrap_ci" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .select(col("o_orderkey"), col("cents"),
          explode(expr("sequence(0L, 31L)")).as("b"))
        .filter(expr("(o_orderkey * (2654435761 + 2 * b)) % 1000003 < 500002"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"),
          expr("sum(cents) * 10000 div count(1)").as("mean_micro"))),
  )

  val oracleSql: Seq[(String, String)] = Seq(

    "q_weighted_median" -> """
      WITH bv AS (SELECT l_returnflag AS rf,
                         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                           AS cents,
                         sum(l_quantity::BIGINT) AS w
                  FROM lineitem GROUP BY 1, 2),
      c AS (SELECT *, sum(w) OVER (PARTITION BY rf ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(w) OVER (PARTITION BY rf) AS total
            FROM bv)
      SELECT rf, min(cents)::BIGINT AS median_cents,
             max(total)::BIGINT AS total_weight
      FROM c WHERE cum * 2 >= total GROUP BY rf
    """,

    // sign factored out so hugeint floor-div on abs operands matches
    // Spark's toward-zero `div` exactly
    "q_regression" -> """
      WITH d AS (SELECT l_returnflag AS rf, l_quantity::BIGINT AS x,
                        floor(l_extendedprice * 100 + 0.5)::BIGINT AS y
                 FROM lineitem),
      s AS (SELECT rf, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
                   sum(y)::HUGEINT AS sy, sum(x*x)::HUGEINT AS sxx,
                   sum(x*y)::HUGEINT AS sxy
            FROM d GROUP BY rf),
      t AS (SELECT *, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM s)
      SELECT rf, n::BIGINT AS n, sx::BIGINT AS sx, sy::BIGINT AS sy,
             sxx::BIGINT AS sxx, sxy::BIGINT AS sxy,
             (CASE WHEN den = 0 THEN NULL ELSE
               (CASE WHEN (num < 0) != (den < 0) THEN -1 ELSE 1 END) *
               ((abs(num) * 1000000) // abs(den)) END)::BIGINT AS slope_ppm,
             (CASE WHEN den = 0 THEN NULL ELSE
               (CASE WHEN ((sy*den - num*sx) < 0) != (den < 0)
                     THEN -1 ELSE 1 END) *
               ((abs(sy*den - num*sx) * 1000) // abs(n*den)) END)::BIGINT
               AS intercept_milli
      FROM t
    """,

    "q_mad" -> """
      WITH d AS (SELECT l_returnflag AS rf,
                        floor(l_extendedprice * 100 + 0.5)::BIGINT AS v
                 FROM lineitem),
      bv AS (SELECT rf, v, count(*) AS w FROM d GROUP BY 1, 2),
      c AS (SELECT rf, v,
                   sum(w) OVER (PARTITION BY rf ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(w) OVER (PARTITION BY rf) AS total
            FROM bv),
      med AS (SELECT rf, min(v) AS median FROM c
              WHERE cum * 2 >= total GROUP BY rf),
      dev AS (SELECT d.rf, abs(v - median) AS dv
              FROM d JOIN med ON d.rf = med.rf),
      bv2 AS (SELECT rf, dv, count(*) AS w FROM dev GROUP BY 1, 2),
      c2 AS (SELECT rf, dv,
                    sum(w) OVER (PARTITION BY rf ORDER BY dv
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                    sum(w) OVER (PARTITION BY rf) AS total
             FROM bv2),
      mad AS (SELECT rf, min(dv) AS mad FROM c2
              WHERE cum * 2 >= total GROUP BY rf)
      SELECT rf, median, mad FROM med JOIN mad USING (rf)
    """,

    "q_quartile_assign" -> """
      WITH d AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                        l_quantity::BIGINT AS qty
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_returnflag, qty,
             ((rank() OVER (PARTITION BY l_returnflag ORDER BY qty) - 1) * 4
              // count(*) OVER (PARTITION BY l_returnflag))::BIGINT AS quartile
      FROM d
    """,

    // same dominance relation as the Spark window form, stated as the
    // textbook anti-join (fine at oracle scale, quadratic in general)
    "q_skyline" -> """
      WITH p AS (SELECT p_type, p_partkey,
                        floor(p_retailprice * 100 + 0.5)::BIGINT AS cents,
                        p_size::BIGINT AS size
                 FROM part)
      SELECT p_type, p_partkey, cents, size FROM p a
      WHERE NOT EXISTS (SELECT 1 FROM p b
                        WHERE b.p_type = a.p_type
                          AND b.cents <= a.cents AND b.size <= a.size
                          AND (b.cents < a.cents OR b.size < a.size))
    """,

    "q_benford" -> """
      WITH d AS (SELECT substring((floor(o_totalprice * 100 + 0.5)::BIGINT)::VARCHAR,
                                  1, 1) AS digit
                 FROM orders WHERE floor(o_totalprice * 100 + 0.5) > 0),
      c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT sum(n) AS total FROM c)
      SELECT digit, n, (n::HUGEINT * 1000000 // total)::BIGINT AS share_ppm
      FROM c, t
    """,

    "q_hhi" -> """
      WITH pc AS (SELECT c_nationkey, c_custkey, count(*) AS cnt
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY 1, 2),
      sh AS (SELECT c_nationkey,
                    cnt * 1000000 // sum(cnt) OVER (PARTITION BY c_nationkey)
                      AS share_ppm
             FROM pc)
      SELECT c_nationkey, count(*) AS n_customers,
             sum(share_ppm * share_ppm)::BIGINT AS hhi_pps
      FROM sh GROUP BY 1
    """,

    "q_winsorize" -> """
      WITH d AS (SELECT l_returnflag AS rf,
                        floor(l_extendedprice * 100 + 0.5)::BIGINT AS v
                 FROM lineitem),
      bv AS (SELECT rf, v, count(*) AS w FROM d GROUP BY 1, 2),
      c AS (SELECT rf, v,
                   sum(w) OVER (PARTITION BY rf ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(w) OVER (PARTITION BY rf) AS total
            FROM bv),
      lo AS (SELECT rf, min(v) AS p05 FROM c
             WHERE cum * 20 >= total GROUP BY rf),
      hi AS (SELECT rf, min(v) AS p95 FROM c
             WHERE cum * 20 >= total * 19 GROUP BY rf)
      SELECT rf, p05, p95,
             sum(greatest(p05, least(p95, v)))::BIGINT AS winsorized_cents,
             count(*) AS n
      FROM d JOIN lo USING (rf) JOIN hi USING (rf)
      GROUP BY 1, 2, 3
    """,

    "q_gini" -> """
      WITH pc AS (SELECT c_nationkey, c_custkey, count(*) AS x
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                         ORDER BY x, c_custkey) AS i
            FROM pc)
      SELECT c_nationkey, count(*) AS n, sum(x)::BIGINT AS sx,
             ((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000 //
              (count(*) * sum(x)))::BIGINT AS gini_ppm
      FROM r GROUP BY 1
    """,

    "q_percentile_rank" -> """
      WITH d AS (SELECT o_orderkey, o_orderpriority,
                        floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
                 FROM orders)
      SELECT o_orderkey, o_orderpriority, cents,
             ((rank() OVER (PARTITION BY o_orderpriority ORDER BY cents) - 1)
              * 1000000 //
              (count(*) OVER (PARTITION BY o_orderpriority) - 1))::BIGINT
               AS pct_rank_ppm
      FROM d
    """,

    "q_pareto_8020" -> """
      WITH per AS (SELECT o_custkey,
                          sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS rev
                   FROM orders GROUP BY 1),
      rk AS (SELECT *, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
                    sum(rev) OVER () AS total_rev,
                    count(*) OVER () AS n_cust
             FROM per)
      SELECT n_cust, count(*) AS top_cust, total_rev::BIGINT AS total_rev,
             sum(rev)::BIGINT AS top_rev,
             ((sum(rev) * 1000000) // total_rev)::BIGINT AS top_share_ppm
      FROM rk WHERE rk * 5 <= n_cust + 4
      GROUP BY n_cust, total_rev
    """,

    "q_lorenz" -> """
      WITH per AS (SELECT o_custkey,
                          sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS rev
                   FROM orders GROUP BY 1),
      rk AS (SELECT *, row_number() OVER (ORDER BY rev, o_custkey) AS rk,
                    count(*) OVER () AS n, sum(rev) OVER () AS total_rev
             FROM per),
      dec AS (SELECT (rk - 1) * 10 // n AS decile, total_rev,
                     count(*) AS n_cust, sum(rev) AS dec_rev
              FROM rk GROUP BY 1, 2)
      SELECT decile, n_cust, dec_rev::BIGINT AS dec_rev,
             (sum(dec_rev) OVER w)::BIGINT AS cum_rev,
             ((sum(dec_rev) OVER w) * 1000000 // total_rev)::BIGINT
               AS cum_share_ppm
      FROM dec
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    """,

    "q_chisq" -> """
      WITH o AS (SELECT o_orderpriority AS pri, o_orderstatus AS st
                 FROM orders),
      obs AS (SELECT pri, st, count(*) AS obs FROM o GROUP BY 1, 2),
      rt AS (SELECT pri, count(*) AS row_tot FROM o GROUP BY 1),
      ct AS (SELECT st, count(*) AS col_tot FROM o GROUP BY 1),
      n AS (SELECT count(*) AS n FROM o)
      SELECT pri, st, obs, row_tot, col_tot, n,
             ((row_tot::HUGEINT * col_tot * 1000000) // n)::BIGINT
               AS expected_micro,
             (((n::HUGEINT * obs - row_tot::HUGEINT * col_tot) *
               (n::HUGEINT * obs - row_tot::HUGEINT * col_tot) * 1000000) //
              (n::HUGEINT * row_tot * col_tot))::BIGINT AS chi_micro
      FROM obs JOIN rt USING (pri) JOIN ct USING (st) CROSS JOIN n
    """,

    "q_quantile_norm" -> """
      WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      ranked AS (SELECT *,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id) AS rk,
                        count(*) OVER (PARTITION BY source) AS n_src
                 FROM d),
      p AS (SELECT *, CASE WHEN n_src > 1
                           THEN (rk - 1) * 1000000 // (n_src - 1)
                           ELSE 0 END AS p_ppm
            FROM ranked),
      vals AS (SELECT n_chars AS pool_chars, count(*) AS cnt,
                      sum(count(*)) OVER (ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS cum
               FROM d GROUP BY n_chars),
      v AS (SELECT pool_chars, cum::BIGINT AS cum,
                   (cum - cnt)::BIGINT AS cum_before
            FROM vals),
      tot AS (SELECT count(*) AS n_tot FROM d)
      SELECT doc_id, source, n_chars, p_ppm,
             pool_chars AS norm_chars
      FROM p CROSS JOIN tot
      JOIN v ON (1 + p_ppm * (n_tot - 1) // 1000000) > cum_before
            AND (1 + p_ppm * (n_tot - 1) // 1000000) <= cum
    """,

    "q_abc_class" -> """
      WITH per AS (SELECT l_partkey,
                          sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)
                            AS rev
                   FROM lineitem GROUP BY 1),
      c AS (SELECT *,
                   sum(rev) OVER (ORDER BY rev DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(rev) OVER () AS total_rev
            FROM per),
      k AS (SELECT *, cum * 1000000 // total_rev AS cum_ppm FROM c),
      cls AS (SELECT *, CASE WHEN cum_ppm <= 800000 THEN 'A'
                             WHEN cum_ppm <= 950000 THEN 'B'
                             ELSE 'C' END AS abc
              FROM k)
      SELECT abc, count(*) AS n_parts, sum(rev)::BIGINT AS class_rev,
             min(cum_ppm)::BIGINT AS min_cum_ppm,
             max(cum_ppm)::BIGINT AS max_cum_ppm
      FROM cls GROUP BY 1
    """,

    "q_trimmed_mean" -> """
      WITH c AS (SELECT c_mktsegment AS segment,
                        floor(c_acctbal * 100 + 0.5)::BIGINT AS cents,
                        c_custkey
                 FROM customer),
      r AS (SELECT segment, cents,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY cents, c_custkey) AS rk,
                   count(*) OVER (PARTITION BY segment) AS n
            FROM c)
      SELECT segment, count(*) AS n_kept,
             (sum(cents + 100000) * 10000 // count(*) - 1000000000
               )::BIGINT AS trimmed_mean_micro
      FROM r WHERE rk > n // 10 AND rk <= n - n // 10
      GROUP BY 1
    """,

    "q_ks_test" -> """
      WITH o AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
                        (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS is_f
                 FROM orders WHERE o_orderstatus IN ('F', 'O')),
      byv AS (SELECT cents, sum(is_f)::BIGINT AS cf,
                     sum(1 - is_f)::BIGINT AS co
              FROM o GROUP BY 1),
      cum AS (SELECT sum(cf) OVER w AS cum_f, sum(co) OVER w AS cum_o
              FROM byv
              WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
      tot AS (SELECT sum(is_f)::BIGINT AS n_f,
                     sum(1 - is_f)::BIGINT AS n_o FROM o)
      SELECT n_f, n_o, max(abs(cum_f * n_o - cum_o * n_f))::BIGINT AS d_num,
             (max(abs(cum_f * n_o - cum_o * n_f)) * 1000000
               // (n_f * n_o))::BIGINT AS ks_ppm
      FROM cum CROSS JOIN tot
      GROUP BY 1, 2
    """,

    "q_mann_whitney" -> """
      WITH e AS (SELECT floor(value * 1000000 + 0.5)::BIGINT AS v,
                        (CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS is_a
                 FROM events WHERE event_type IN ('click', 'purchase')),
      byv AS (SELECT v, sum(is_a)::BIGINT AS ca, count(*)::BIGINT AS ct
              FROM e GROUP BY 1),
      ranked AS (SELECT ca, ct,
                        coalesce(sum(ct) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)::BIGINT AS before
                 FROM byv),
      tot AS (SELECT sum(is_a)::BIGINT AS n_a,
                     sum(1 - is_a)::BIGINT AS n_b FROM e)
      SELECT n_a, n_b,
             sum(ca * (2 * before + ct + 1))::BIGINT AS r2_a,
             (sum(ca * (2 * before + ct + 1)) - n_a * (n_a + 1))::BIGINT
               AS u2_a
      FROM ranked CROSS JOIN tot
      GROUP BY 1, 2
    """,

    "q_confusion" -> """
      WITH o AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
                        (o_orderstatus = 'F') AS lbl
                 FROM orders),
      c AS (SELECT
              sum(CASE WHEN cents >= 15000000 AND lbl
                       THEN 1 ELSE 0 END)::BIGINT AS tp,
              sum(CASE WHEN cents >= 15000000 AND NOT lbl
                       THEN 1 ELSE 0 END)::BIGINT AS fp,
              sum(CASE WHEN cents < 15000000 AND lbl
                       THEN 1 ELSE 0 END)::BIGINT AS fn,
              sum(CASE WHEN cents < 15000000 AND NOT lbl
                       THEN 1 ELSE 0 END)::BIGINT AS tn
            FROM o),
      m AS (SELECT *,
              (tp * 1000000 // (tp + fp))::BIGINT AS precision_ppm,
              (tp * 1000000 // (tp + fn))::BIGINT AS recall_ppm
            FROM c)
      SELECT tp, fp, fn, tn, precision_ppm, recall_ppm,
             (2 * precision_ppm * recall_ppm
               // (precision_ppm + recall_ppm))::BIGINT AS f1_ppm
      FROM m
    """,

    "q_calibration" -> """
      WITH o AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS s,
                        (CASE WHEN o_orderstatus = 'F'
                              THEN 1 ELSE 0 END)::BIGINT AS y
                 FROM orders),
      r AS (SELECT s, y, rank() OVER (ORDER BY s) AS rk,
                   count(*) OVER () AS n
            FROM o),
      g AS (SELECT ((rk - 1) * 10 // n)::BIGINT AS bucket,
                   count(*)::BIGINT AS n_rows,
                   sum(y)::BIGINT AS n_pos, sum(s)::BIGINT AS sum_score
            FROM r GROUP BY 1)
      SELECT bucket, n_rows, n_pos,
             (sum_score // n_rows)::BIGINT AS mean_score,
             (n_pos * 1000000 // n_rows)::BIGINT AS pos_rate_ppm
      FROM g
    """,

    "q_rater_kappa" -> """
      WITH d AS (SELECT (lang = 'en') AS a, (n_chars >= 200) AS b
                 FROM documents),
      c AS (SELECT count(*)::BIGINT AS n,
                   sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT AS agree,
                   sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na1,
                   sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS nb1
            FROM d),
      m AS (SELECT *,
              (na1 * nb1 + (n - na1) * (n - nb1))::BIGINT AS pe_num
            FROM c)
      SELECT n, agree,
             (agree * 1000000 // n)::BIGINT AS po_ppm,
             (pe_num * 1000000 // (n * n))::BIGINT AS pe_ppm,
             (n * agree - pe_num)::BIGINT AS kappa_num,
             (n * n - pe_num)::BIGINT AS kappa_den
      FROM m
    """,

    "q_anova" -> """
      WITH c AS (SELECT c_mktsegment AS seg,
                        floor(c_acctbal * 100 + 0.5)::BIGINT + 100000 AS v
                 FROM customer),
      g AS (SELECT seg, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g,
                   sum(v::HUGEINT * v) AS ss_g
            FROM c GROUP BY 1),
      w AS (SELECT n_g, s_g, ss_g,
                   ss_g - (s_g::HUGEINT * s_g // n_g) AS w_g
            FROM g),
      t AS (SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
                   sum(s_g)::BIGINT AS s, sum(ss_g) AS ss_tot,
                   sum(w_g) AS ssw_d
            FROM w)
      SELECT k, n,
             (ss_tot - (s::HUGEINT * s // n) - ssw_d)::BIGINT AS ssb,
             ssw_d::BIGINT AS ssw,
             ((ss_tot - (s::HUGEINT * s // n) - ssw_d) * (n - k) * 1000000
               // (ssw_d * (k - 1)))::BIGINT AS f_ppm
      FROM t
    """,

    "q_spearman" -> """
      WITH o AS (SELECT o_orderkey,
                        floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
                        o_orderdate
                 FROM orders),
      r AS (SELECT
              row_number() OVER (ORDER BY cents, o_orderkey)::BIGINT AS rx,
              row_number() OVER (ORDER BY o_orderdate, o_orderkey)::BIGINT
                AS ry
            FROM o),
      t AS (SELECT count(*)::BIGINT AS n,
                   sum((rx - ry)::HUGEINT * (rx - ry)) AS sum_d2_w
            FROM r)
      SELECT n, sum_d2_w::BIGINT AS sum_d2,
             ((2 * n::HUGEINT * (n::HUGEINT * n - 1) - 6 * sum_d2_w)
               * 1000000
               // (2 * n::HUGEINT * (n::HUGEINT * n - 1)))::BIGINT
               AS rho_shift_ppm
      FROM t
    """,

    "q_psi_buckets" -> """
      WITH o AS (SELECT year(o_orderdate)::BIGINT AS yr,
                        floor(o_totalprice * 100 + 0.5)::BIGINT // 5000000
                          AS bucket
                 FROM orders),
      yrs AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM o),
      b AS (SELECT bucket,
                   sum(CASE WHEN yr = y0 THEN 1 ELSE 0 END)::BIGINT AS n0,
                   sum(CASE WHEN yr = y1 THEN 1 ELSE 0 END)::BIGINT AS n1
            FROM o CROSS JOIN yrs
            WHERE yr = y0 OR yr = y1
            GROUP BY 1),
      tot AS (SELECT sum(n0)::BIGINT AS big0, sum(n1)::BIGINT AS big1
              FROM b)
      SELECT bucket, n0, n1,
             n0 * 1000000 // big0 AS share0_ppm,
             n1 * 1000000 // big1 AS share1_ppm,
             abs(n0 * 1000000 // big0 - n1 * 1000000 // big1) AS drift_ppm
      FROM b CROSS JOIN tot
    """,

    "q_runs_test" -> """
      WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                              o_orderdate)::BIGINT AS day,
                            count(*)::BIGINT AS n
                     FROM orders GROUP BY 1),
      med AS (SELECT n AS m
              FROM (SELECT n, day,
                           row_number() OVER (ORDER BY n, day) AS rk,
                           count(*) OVER () AS cnt
                    FROM daily)
              WHERE rk = (cnt + 1) // 2),
      signed AS (SELECT day,
                        (CASE WHEN n > m THEN 1 ELSE 0 END)::BIGINT
                          AS above
                 FROM daily CROSS JOIN med
                 WHERE n <> m),
      flips AS (SELECT above,
                       (CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                              OR lag(above) OVER (ORDER BY day) <> above
                             THEN 1 ELSE 0 END)::BIGINT AS new_run
                FROM signed)
      SELECT sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)::BIGINT AS n2,
             sum(new_run)::BIGINT AS runs,
             (1000000 + 2 * sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                          * sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                          * 1000000
                        // (sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                            + sum(CASE WHEN above = 0 THEN 1 ELSE 0 END))
               )::BIGINT AS expected_micro
      FROM flips
    """,

    "q_bootstrap_ci" -> """
      WITH o AS (SELECT o_orderkey,
                        floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
                 FROM orders),
      rep AS (SELECT cents, b::BIGINT AS b
              FROM o CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
              WHERE (o_orderkey * (2654435761 + 2 * b)) % 1000003
                    < 500002)
      SELECT b, count(*) AS n,
             (sum(cents) * 10000 // count(*))::BIGINT AS mean_micro
      FROM rep GROUP BY 1
    """,
  )
}
