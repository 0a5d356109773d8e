package graft.retention

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Second source instantiation of the retention pipeline: the event
  * stream table plays encounters (user→person, user-pairs→household).
  * Demonstrates the library is generic over its person/encounter
  * source — same `Retention` code, different adapter. The fixture's
  * events span ~30 days, so the meaningful config is a short window:
  * 3-month spine, 7-day lookback.
  */
object EventsAdapter {
  // pinned: this DERIVED dimension (distinct over the event
  // stream) is consumed three times by the pipeline (admits join,
  // scaffold universe, fan-out join); without materialization each
  // consumer would re-scan and re-aggregate the full events table —
  // the distinct user set is tiny relative to the stream, so caching
  // it is the textbook trade.
  def persons(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id").as("person_id")).distinct()
      .withColumn("household_id", expr("person_id div 2"))
      .transform(graft.operators.CheckpointScope.pin(_))

  def encounters(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id").as("person_id"),
              to_date(col("ts")).as("admit_date"))

  def asOf(spark: SparkSession, sfDir: String): LocalDate =
    Tables.events(spark, sfDir).agg(max(to_date(col("ts"))))
      .head().getDate(0).toLocalDate

  def config(spark: SparkSession, sfDir: String): RetentionConfig =
    RetentionConfig(asOf = asOf(spark, sfDir),
                    windowMonths = 2, lookbackDays = 7)
}
