package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Date-partitioned parquet layout with DYNAMIC partition overwrite —
  * the daily-ingest contract: re-running one day's load rewrites ONLY
  * that day's directory and leaves every other day's files untouched.
  * That is what makes backfills idempotent and late-data repairs
  * surgical at 100 TB: a repair touches `day=X/`, not the table.
  *
  * Partition pruning is the read-side payoff: a `WHERE day = ...`
  * filter becomes a directory prune (PartitionFilters in the scan),
  * so a one-day query over a 10-year table reads one day of files.
  * Complements [[Bucketed]] (join-key layout) and [[KeyedUpsert]]
  * (keyed incremental rewrite) as the time-dimension layout.
  */
object DatePartitioned {

  /** Write `df` partitioned by `dayCol` (a DATE or date-string
    * column). With `dynamic = true` (the default), OVERWRITE replaces
    * only the partitions present in `df`. */
  def write(df: DataFrame, path: String, dayCol: String,
            dynamic: Boolean = true): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      if (dynamic) "dynamic" else "static")
    try df.write.mode(SaveMode.Overwrite).partitionBy(dayCol).parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
