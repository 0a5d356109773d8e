package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Integer-exact grouped statistics beyond plain aggregates. First
  * member: simple linear regression (OLS) per group from sufficient
  * statistics — the "trend per segment" query every analytics engine
  * grows eventually, here with a fixed-point surface a SQL oracle can
  * reproduce exactly.
  *
  * Beyond the reference; sits beside `Series` (windowed integer-exact
  * ops) in the numeric family.
  *
  * Scale shape: ONE hash aggregate computes (n, Σx, Σy, Σx², Σxy) with
  * map-side partials — no second pass over the data, no window, no
  * collect. The slope/intercept algebra runs on the one-row-per-group
  * result in DECIMAL(38,0):
  *   slope      = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
  *   intercept  = (Σy·den − num·Σx) / (n·den)
  * emitted as floor-divided ppm / milli fixed-point with an explicit
  * sign factor, because Spark's `div` truncates toward zero while
  * other engines' `//` floors — on `abs` operands the two agree, so
  * `sign · (abs(num)·scale div abs(den))` is engine-portable.
  * Inputs must be integral (cast cents / counts upstream); decimals
  * keep the cross products exact up to ~1e38.
  */
object Stats {

  /** Per-group OLS fit of y on x. Emits the sufficient statistics
    * (n, sx, sy, sxx, sxy as BIGINT — exact at any tested scale) and
    * `slope_ppm` / `intercept_milli` fixed-point estimates; both are
    * NULL for degenerate groups (zero x-variance).
    */
  def linearFitGrouped(df: DataFrame, groupCols: Seq[String],
                       xCol: Column, yCol: Column): DataFrame = {
    val d = df.select(
      groupCols.map(col) ++ Seq(
        xCol.cast("decimal(38,0)").as("x"),
        yCol.cast("decimal(38,0)").as("y")): _*)
    d.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
           sum("x").as("sx"), sum("y").as("sy"),
           sum(expr("x * x")).as("sxx"),
           sum(expr("x * y")).as("sxy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .select(
        groupCols.map(col) ++ Seq(
          col("n").cast("long").as("n"),
          col("sx").cast("long").as("sx"),
          col("sy").cast("long").as("sy"),
          col("sxx").cast("long").as("sxx"),
          col("sxy").cast("long").as("sxy"),
          expr("""case when den = 0 then null else
                    (case when (num < 0) != (den < 0) then -1 else 1 end)
                    * (abs(num) * 1000000 div abs(den)) end""")
            .as("slope_ppm"),
          expr("""case when den = 0 then null else
                    (case when ((sy * den - num * sx) < 0) != (den < 0)
                          then -1 else 1 end)
                    * (abs(sy * den - num * sx) * 1000 div abs(n * den)) end""")
            .as("intercept_milli")): _*)
  }

  /** Smallest value per group whose cumulative weight crosses each of
    * a set of rational thresholds: min v with cum(v)·k ≥ total·m
    * (k ≥ m ≥ 0, integer-exact — median is (k=2, m=1), p05 is
    * (20, 1), p95 is (20, 19)). Returns one row per group with one
    * output column per requested ratio.
    *
    * NO sort, cumulative walk, or materialization of the value
    * relation. A quantile crossing doesn't need the full prefix —
    * only the ONE value where it crosses — so this runs as a
    * two-level histogram whose heavy stages are all
    * map-side-combinable aggregations over `rows`:
    *
    *   1. per-group (min, max, total): G rows, broadcast;
    *   2. bucket histogram — width w = (max−min) div B + 1, bucket
    *      = (v−min) div w (pure integer, overflow-free) — a G·≤B-row
    *      aggregate with map-side partials; its prefix walk is a
    *      window over G·B rows, never the data. ALL ratios share it;
    *   3. crossing BUCKET + cumulative weight before it, for ALL
    *      ratios in ONE conditional aggregation over the G·B rows
    *      (the crossing predicate is monotone in the bucket index, so
    *      "first hit bucket" and "last miss cum" are min/max of
    *      conditional projections — no self-join, no checkpoint),
    *      broadcast back;
    *   4. per ratio: rescan only the crossing bucket's rows,
    *      pre-aggregate them per (group, value) — a map-side-
    *      combinable groupBy whose output is HARD-bounded by the
    *      bucket's integer width (≈ range/B distinct values), no
    *      matter how concentrated the weights (a raw-row refinement
    *      would re-create the grouped-window funnel exactly when the
    *      mass piles into one bucket, e.g. absolute deviations near
    *      the median) — then cross within that bounded relation.
    *
    * `rows` may carry duplicate (group, value) pairs — no per-value
    * pre-aggregation is needed (when values are near-unique such a
    * pre-aggregate is pure overhead, which is why this takes raw
    * rows). It is evaluated 2 + |ratios| times, each a map-side pass
    * (scan + broadcast join) — hand it a cheap-to-rescan subtree (a
    * column-pruned table scan) or a frame you have ALREADY materialized
    * (cached / checkpointed / a bucketed table — the passes then read
    * its blocks). Rescanning is the measured choice: a pinned
    * projection lost to the rescan at sf10 (BASELINE.md round 12).
    * Intended for LOW-cardinality groups (G-row tables are
    * broadcast). */
  def groupedWeightedCrossings(rows: DataFrame, groupCols: Seq[String],
                               vCol: String, wCol: String,
                               ratios: Seq[(Long, Long, String)],
                               buckets: Int = 1024): DataFrame = {
    require(ratios.nonEmpty, "need at least one crossing ratio")
    ratios.foreach { case (k, m, _) =>
      require(k >= m && m >= 0 && k > 0, s"bad crossing ratio m/k = $m/$k") }
    val g = groupCols.map(col)
    // the crossing rule is only monotone for non-negative weights; a
    // signed-weight caller would get a silently wrong quantile, so the
    // guard rides the per-group range aggregate the pass already pays
    // (raise_error only evaluates on violation — Graph.guarded pattern)
    val rng = rows.groupBy(g: _*).agg(
        min(vCol).as("__mn"), max(vCol).as("__mx"), sum(wCol).as("__tot"),
        min(wCol).as("__wmn"))
      .withColumn("__tot",
        when(col("__wmn") < 0,
          expr("raise_error(concat('groupedWeightedCrossings: negative " +
               "weight (min ', __wmn, ') — the crossing rule requires " +
               "non-negative weights'))"))
          .otherwise(col("__tot")))
      .drop("__wmn")
    def bucketed = rows.join(broadcast(rng), groupCols)
      .withColumn("__bk",
        expr(s"($vCol - __mn) div ((__mx - __mn) div $buckets + 1)"))
    val wb = Window.partitionBy(g: _*).orderBy("__bk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // G·≤(B+1)-row histogram; the crossing predicate is monotone in
    // __bk, so every ratio's (first hit bucket, cum before it) pair
    // is one conditional min/max over it — ONE tiny pick table for
    // all ratios, no self-join, no checkpoint
    val cum = bucketed.groupBy(g :+ col("__bk"): _*)
      .agg(sum(wCol).as("__w"), max("__tot").as("__tot"))
      .withColumn("__cumb", sum("__w").over(wb))
    val pickAggs = ratios.zipWithIndex.flatMap { case ((k, m, _), i) =>
      val hit = col("__cumb") * k >= col("__tot") * m
      Seq(min(when(hit, col("__bk"))).as(s"__cb$i"),
          coalesce(max(when(!hit, col("__cumb"))), lit(0L)).as(s"__before$i"))
    } :+ max("__tot").as("__tot")
    val pick = cum.groupBy(g: _*).agg(pickAggs.head, pickAggs.tail: _*)
    val wv = Window.partitionBy(g: _*).orderBy(vCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ratios.zipWithIndex.map { case ((k, m, out), i) =>
      bucketed.drop("__tot")
        .join(broadcast(pick), groupCols)
        .filter(col("__bk") === col(s"__cb$i"))
        .groupBy(g :+ col(vCol): _*)
        .agg(sum(wCol).as("__w"), max(s"__before$i").as("__before"),
          max("__tot").as("__tot"))
        .withColumn("__cumv", col("__before") + sum("__w").over(wv))
        .filter(col("__cumv") * k >= col("__tot") * m)
        .groupBy(g: _*).agg(min(vCol).as(out))
    }.reduce(_.join(_, groupCols))
  }

  /** Single-ratio form of [[groupedWeightedCrossings]]. */
  def groupedWeightedCrossing(rows: DataFrame, groupCols: Seq[String],
                              vCol: String, wCol: String, k: Long, m: Long,
                              out: String, buckets: Int = 1024): DataFrame =
    groupedWeightedCrossings(rows, groupCols, vCol, wCol,
      Seq((k, m, out)), buckets)

  /** Per-group median and median absolute deviation — the robust
    * location/scale pair (outlier-resistant alternative to mean/σ,
    * the robust cousin of `Series.sigmaOutliers`' threshold inputs).
    *
    * Integer-exact: "median" is the smallest value whose doubled
    * cumulative count reaches the group total (the `q_weighted_median`
    * crossing rule — no interpolation), applied twice: once to the
    * values, once to |value − median|. Each pass is a
    * [[groupedWeightedCrossing]] over the RAW rows — histogram
    * crossing: no sort, no per-value pre-aggregate, no
    * materialization; `df` is re-scanned ~6× map-side, so hand it a
    * cheap subtree (a column-pruned scan) or a frame you have already
    * materialized (cached / bucketed). Rescanning a pruned parquet
    * projection rides the page cache and beat a one-time pin at sf10
    * (BASELINE.md round 12 records the A/B). The
    * median table is group-cardinality sized, so the join back is a
    * broadcast at any data scale.
    */
  def medianAbsDev(df: DataFrame, groupCols: Seq[String],
                   valueCol: Column): DataFrame = {
    val d = df.select(groupCols.map(col) :+ valueCol.cast("long").as("v"): _*)
      .withColumn("w", lit(1L))
    val med = groupedWeightedCrossing(
      d, groupCols, "v", "w", k = 2, m = 1, out = "median")
    val dev = d.join(broadcast(med), groupCols)
      .withColumn("dev", abs(col("v") - col("median")))
    groupedWeightedCrossing(dev, groupCols, "dev", "w", k = 2, m = 1,
        out = "mad")
      .join(broadcast(med), groupCols)
      .select(groupCols.map(col) ++ Seq(col("median"), col("mad")): _*)
  }
}
