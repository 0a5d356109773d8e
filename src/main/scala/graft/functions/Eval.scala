package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-evaluation / labeling-QA metrics for a training-data pipeline:
  * threshold classification metrics, score calibration, inter-rater
  * agreement. The classifier under test is any scored column (a
  * quality score, a heuristic filter, a model output landed alongside
  * the data); the evaluation itself is pure relational aggregation.
  *
  * Every emitted metric is integer-exact (counts, and ppm/micro
  * ratios via BIGINT `div`), so results are bit-identical across
  * engines and across run parallelism — the same contract the rest of
  * the suite uses (see TextAnalysis.scala `score_micro`).
  *
  * Scale shape: confusion and agreement are single map-side
  * conditional aggregations (one partial-agg shuffle of ONE row per
  * partition); calibration adds one value-ranked window, the same
  * sorted-rank shape as quartile/percentile assignment. No all-pairs,
  * no collect.
  */
object Eval {

  /** 2×2 confusion matrix + derived metrics for `pred` vs `label`
    * (both boolean columns), one output row: tp/fp/fn/tn,
    * precision_ppm, recall_ppm, f1_ppm. F1 is derived from the ppm
    * precision/recall integers (2·p·r div (p+r)) so it is reproducible
    * from the emitted surface alone. */
  def confusion(df: DataFrame, pred: Column, label: Column): DataFrame = {
    val p = pred.cast("boolean")
    val l = label.cast("boolean")
    df.agg(
        sum(when(p && l, 1L).otherwise(0L)).as("tp"),
        sum(when(p && !l, 1L).otherwise(0L)).as("fp"),
        sum(when(!p && l, 1L).otherwise(0L)).as("fn"),
        sum(when(!p && !l, 1L).otherwise(0L)).as("tn"))
      .withColumn("precision_ppm", expr("tp * 1000000 div (tp + fp)"))
      .withColumn("recall_ppm", expr("tp * 1000000 div (tp + fn)"))
      .withColumn("f1_ppm", expr(
        "2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)"))
  }

  /** Equal-population calibration table: rank rows by `score`, cut
    * into `buckets` equi-depth bins with the portable crossing rule
    * ((rank−1)·k div n — value ties share a rank, so the cut is
    * data-determined, not order-determined), then per bin emit size,
    * positive count, floor mean score, and positive rate ppm. A
    * well-calibrated score has pos_rate_ppm monotone in bucket.
    *
    * Scale shape: rows aggregate to DISTINCT score values FIRST (one
    * hash shuffle) — rank(s) with min-ties is 1 + Σ counts of
    * strictly-smaller values, identical to a per-row rank() but
    * bounded by score cardinality — and the prefix sum over the
    * values runs distributed ([[graft.operators.GlobalOrder]]), so
    * even an all-distinct score column never single-partitions. */
  def calibration(df: DataFrame, score: Column, label: Column,
                  buckets: Int,
                  scoreDomainBound: Option[Long] = None): DataFrame = {
    val byValue = df.select(score.cast("long").as("s"),
        label.cast("boolean").cast("long").as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("n_s"), sum("y").as("pos_s"))
    val total = byValue.agg(sum("n_s").as("n"))
    // auto-gated: the numbered relation is the distinct-value
    // histogram, usually tiny — the distributed form engages only
    // past the threshold (score domains CAN be corpus-sized). The
    // gate's persist is also what lets the `total` aggregate above
    // hit the cache (CacheManager plan-subtree match — an explicit
    // checkpoint pin was measured 2.2× slower end-to-end and
    // reverted). Callers whose score has a PROVABLE domain size (a
    // ppm score, a bounded integer grade) pass `scoreDomainBound` —
    // an upper bound is enough, it only routes the physical plan —
    // and skip the gate pin entirely.
    graft.operators.GlobalOrder.withRunningSumsAuto(
        byValue, Seq(col("s")), Seq(col("n_s") -> "__cum"),
        bound = scoreDomainBound)
      .withColumn("rk", col("__cum") - col("n_s") + 1L)
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"(rk - 1) * $buckets div n"))
      .groupBy("bucket")
      .agg(sum("n_s").as("n_rows"), sum("pos_s").as("n_pos"),
           sum(expr("s * n_s")).as("sum_score"))
      .withColumn("mean_score", expr("sum_score div n_rows"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n_rows"))
      .drop("sum_score")
  }

  /** Cohen's-kappa inter-rater agreement between two boolean raters
    * (e.g. two quality filters over the same corpus). Emits the
    * observed/expected agreement as ppm plus kappa as an exact
    * BIGINT fraction (kappa_num / kappa_den, both n²-scaled) — kappa
    * can be negative, and cross-engine integer division of negative
    * numerators is not portable (truncation vs floor), so the
    * fraction IS the contract; consumers divide at display time. */
  def raterAgreement(df: DataFrame, raterA: Column,
                     raterB: Column): DataFrame = {
    val a = raterA.cast("boolean").cast("long")
    val b = raterB.cast("boolean").cast("long")
    df.agg(
        count(lit(1)).as("n"),
        sum(when(a === b, 1L).otherwise(0L)).as("agree"),
        sum(a).as("na1"), sum(b).as("nb1"))
      .withColumn("pe_num", expr(
        "na1 * nb1 + (n - na1) * (n - nb1)")) // n²-scaled expected agreement
      .withColumn("po_ppm", expr("agree * 1000000 div n"))
      .withColumn("pe_ppm", expr("pe_num * 1000000 div (n * n)"))
      .withColumn("kappa_num", expr("n * agree - pe_num"))
      .withColumn("kappa_den", expr("n * n - pe_num"))
      .select("n", "agree", "po_ppm", "pe_ppm", "kappa_num", "kappa_den")
  }
}
