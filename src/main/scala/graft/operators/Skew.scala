package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys at scale.
  *
  * AQE's skew-join splitting handles sort-merge joins automatically,
  * but two shapes still need manual salting at 100 TB: (a) a single
  * aggregation key receiving a large fraction of all rows (one reducer
  * burns while 999 idle), and (b) a broadcast-infeasible join against
  * a skewed build side. Both use the classic two-phase salt: spread
  * rows over `salts` sub-keys, partially aggregate, then merge — the
  * same partial/final split Catalyst does for hash aggregates, made
  * explicit so the SHUFFLE key (not just the agg tree) is salted.
  */
object Skew {

  /** Two-phase salted sum/count aggregation:
    * `df.groupBy(keys).agg(sum(valueCol))` with the shuffle spread
    * over `salts` sub-partitions per key. Output: keys*, sum_<value>,
    * count_<value>.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salts: Int): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("_psum")).as(s"sum_$valueCol"),
           sum(col("_pcnt")).as(s"count_$valueCol"))
  }

  /** Salted join of a skewed fact against a dimension too big to
    * broadcast whole but small per key: replicate each dim row `salts`
    * times (one per salt), salt the fact rows randomly-but-
    * deterministically, and equi-join on (key, salt) — each hot key's
    * rows spread over `salts` reducers instead of one.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(col(key), spark_partition_id(),
                    monotonically_increasing_id()), lit(salts)))
    val explodedDim = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedFact.join(explodedDim, Seq(key, "_salt")).drop("_salt")
  }
}
