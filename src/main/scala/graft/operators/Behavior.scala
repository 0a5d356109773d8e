package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral analytics over an event stream: ordered-step funnels and
  * cohort retention grids.
  *
  * Both are additive LLM-era analytics the reference's household-
  * retention pipeline gestures at (month-bucketed retained/not-retained
  * spans — reference HouseholdRetentionProcessing.scala:486-489) but
  * never generalizes: a funnel is retention over an *ordered* step
  * sequence, a cohort grid is retention bucketed by *first-seen* month.
  */
object Funnel {

  /** Earliest-completion step times: t1 = min ts of step 1; t(k) = min
    * ts of step k strictly after t(k-1). The greedy chain is optimal —
    * picking the earliest feasible completion of each step can only
    * enlarge the feasible set for the next step. Returns one frame per
    * step prefix: frame i has one row per user who reached step i+1,
    * with columns (userCol, t1..t(i+1)).
    *
    * Scale shape: every aggregation and join is keyed on `userCol`, so
    * the whole chain reuses ONE hash partitioning — Catalyst plans a
    * single exchange on the events side per step filter, and the
    * per-user frames are tiny (≤ one row per user) broadcast-or-local
    * joins thereafter. No windows, no sorts. Each frame is pinned
    * ([[CheckpointScope.pin]]) before the next step builds on it.
    */
  def stepFrames(events: DataFrame, userCol: String, typeCol: String,
                 tsCol: String, steps: Seq[String]): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    steps.zipWithIndex.foldLeft(Vector.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val ev = events.select(col(userCol), col(typeCol), col(tsCol))
          .filter(col(typeCol) === step)
        val frame =
          if (i == 0) ev.groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
          else {
            // prev has exactly one row per user ⇒ the carried t1..ti are
            // constant within each group; min() is just the cheapest
            // way to carry them through the aggregate.
            val aggs = (1 to i).map(j => min(col(s"t$j")).as(s"t$j")) :+
              min(col(tsCol)).as(s"t${i + 1}")
            ev.join(acc.last, Seq(userCol))
              .filter(col(tsCol) > col(s"t$i"))
              .groupBy(col(userCol))
              .agg(aggs.head, aggs.tail: _*)
          }
        // pin INSIDE the fold so frame i+1 builds on the materialized
        // rows — otherwise each frame's lineage re-embeds the whole
        // prefix chain and the event source is rescanned O(steps²)
        // times across the chain + report branches
        acc :+ CheckpointScope.pin(frame)
    }
  }

  /** Funnel report: one row per step with the surviving-user count and
    * the total time-to-reach (sum over users of t(k) − t1, in the
    * timestamp column's own unit — integer-exact when `tsCol` is an
    * epoch integer).
    *
    * Each step frame (≤ one row per user) is pinned
    * ([[CheckpointScope.pin]], released with the owning query) before
    * the report union: every union branch embeds its whole step-prefix
    * chain, and AQE's exchange reuse does NOT collapse the re-analyzed
    * copies (plan-spec-verified), so the lazy form would rescan the
    * event source O(steps²) times — pinned, it is scanned once per
    * step, and each branch reads the materialized per-user rows. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String]): DataFrame = {
    val frames = stepFrames(events, userCol, typeCol, tsCol, steps)
    frames.zipWithIndex.map {
      case (f, i) =>
        f.select((col(s"t${i + 1}") - col("t1")).as("lag"))
          .agg(count(lit(1)).as("users"),
               coalesce(sum(col("lag")), lit(0L)).as("total_lag"))
          .select(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
                  col("users"), col("total_lag"))
    }.reduce(_ unionByName _)
  }
}

/** Cohort retention grid: bucket each key by its first-activity month,
  * then count how many keys from each cohort are still active k months
  * later. Month arithmetic is integer (year·12+month) on both sides so
  * a SQL oracle reproduces it exactly — no `months_between` DOUBLE.
  */
object Cohort {

  /** One row per (cohort_month, offset_m): distinct active keys and raw
    * activity count. Two shuffles, both on `keyCol` (cohort assignment
    * reuses the activity partitioning), then one small grid aggregate —
    * the grid itself is ≤ months² rows regardless of input size. */
  def retentionGrid(activity: DataFrame, keyCol: String,
                    dateCol: String): DataFrame = {
    val acts = activity.select(
      col(keyCol),
      (year(col(dateCol)) * 12 + month(col(dateCol))).as("m"))
    val cohorts = acts.groupBy(col(keyCol)).agg(min(col("m")).as("m0"))
    acts.join(cohorts, Seq(keyCol))
      .withColumn("offset_m", col("m") - col("m0"))
      .groupBy("m0", "offset_m")
      .agg(countDistinct(col(keyCol)).as("active"),
           count(lit(1)).as("events"))
      .select(
        make_date(((col("m0") - 1) / 12).cast("int"),
                  ((col("m0") - 1) % 12 + 1).cast("int"),
                  lit(1)).as("cohort_month"),
        col("offset_m"), col("active"), col("events"))
  }
}
