package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Largest-remainder (Hamilton) apportionment: split an integer budget
  * across groups proportionally to their weights, with the rounding
  * slack assigned one unit at a time to the largest fractional
  * remainders. The training-data use case: allocate a fixed token /
  * document budget across corpus sources according to mixture weights,
  * such that the quotas are integers, sum EXACTLY to the budget, and
  * are deterministic (remainder ties broken by key order).
  *
  * Beyond the reference; complements the sampling family
  * (`q_stratified_sample` / `q_systematic_sample` / `q_mixture_sample`)
  * with the quota-setting step those samplers consume.
  *
  * Scale shape: weights aggregate map-side to one row per group; the
  * quota math is `budget·w div W` / `mod W` in DECIMAL(38,0) (no
  * floats anywhere, no overflow for budgets·weights up to ~1e37).
  * The remainder ranking is a single-partition window — correct here
  * by construction, because the operator's domain is "one row per
  * SOURCE", a dimension-sized relation (tens to thousands), never a
  * fact table. Every score is integer-exact, so a SQL oracle
  * reproduces the allocation bit-for-bit.
  */
object Allocation {

  /** One row per group: `(key, weight, base_quota, quota)` with
    * Σ quota = budget (when total weight > 0). Groups with zero
    * weight get quota 0 before remainder distribution.
    */
  def largestRemainder(weights: DataFrame, keyCol: String,
                       weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val w = weights
      .select(col(keyCol).as("k"),
              col(weightCol).cast("decimal(38,0)").as("wt"))
      .groupBy("k").agg(sum("wt").as("wt"))
    val tot = w.agg(sum("wt").as("tot"))
    val base = w.crossJoin(broadcast(tot))
      .select(col("k"), col("wt"),
        expr(s"wt * $budget div tot").as("base_quota"),
        expr(s"(wt * $budget) % tot").as("rem"))
    val used = base.agg(sum("base_quota").as("used"))
    base.crossJoin(broadcast(used))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("k"))))
      .select(col("k"), col("wt").cast("long").as("weight"),
        col("base_quota"),
        (col("base_quota") +
          when(col("rk") <= lit(budget) - col("used"), 1L).otherwise(0L))
          .as("quota"))
  }
}
