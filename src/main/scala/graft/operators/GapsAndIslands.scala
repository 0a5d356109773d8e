package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic run-length collapse ("gaps and islands").
  *
  * The reference implements range collapse as a thicket of two extra
  * self-joins plus a conditional-min aggregate over `lead`/`lag` markers
  * (reference HouseholdRetentionProcessing.scala:557-590, J5/J6/A4 in
  * SURVEY.md §2.3-2.4). The idiomatic Spark form is a single window
  * pass: flag state changes with `lag`, turn the flags into island ids
  * with a running `sum`, then one `groupBy(island)` — two window
  * functions and one aggregate, all co-partitioned on the same keys, so
  * the whole collapse rides ONE shuffle by the partition keys instead of
  * the reference's three join shuffles. At 100 TB this is the difference
  * between one exchange of the scaffold and three.
  */
object GapsAndIslands {

  /** Collapse consecutive rows (ordered by `orderCol` within
    * `partitionCols`) that share `stateCol` into one row per run with
    * `range_start`/`range_end` = min/max of `orderCol` in the run.
    *
    * Output columns: partitionCols*, stateCol, range_start, range_end.
    */
  def collapse(df: DataFrame, partitionCols: Seq[String], orderCol: String,
               stateCol: String): DataFrame = {
    val part = partitionCols.map(col)
    val w = Window.partitionBy(part: _*).orderBy(col(orderCol))
    // change=1 on the first row of each run; running sum => island id.
    // lag() is null on the first row per partition, so the null-safe
    // inequality marks it as a change without a special case.
    val withIsland = df
      .withColumn("_chg",
        when(lag(col(stateCol), 1).over(w) <=> col(stateCol), lit(0))
          .otherwise(lit(1)))
      .withColumn("_island",
        sum(col("_chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withIsland
      .groupBy((part :+ col("_island")) :+ col(stateCol): _*)
      .agg(min(col(orderCol)).as("range_start"),
           max(col(orderCol)).as("range_end"))
      .drop("_island")
  }
}
