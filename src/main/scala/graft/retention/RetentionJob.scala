package graft.retention

import org.apache.spark.sql.SparkSession

/** Job-shaped entry point mirroring the reference's `main`
  * (HouseholdRetentionProcessing.scala:68-131): positional args with
  * environment-variable fallback, count-gated two-phase run, progress
  * prints. A user of the reference job swaps spark-submit targets and
  * keeps their invocation shape:
  *
  * {{{
  * spark-submit --class graft.retention.RetentionJob app.jar \
  *   <clientCode|ALL> <dataDir> <sinkPath> <batchSize>
  * // or, with no args (reference :70-87):
  * CLIENT_CODE=BUILDING GRAFT_DATA_DIR=/data GRAFT_SINK=/out \
  *   SPARK_PROCESS_BATCH_SIZE=10000 spark-submit ...
  * }}}
  *
  * `clientCode` plays the reference's tenant predicate (P5) against
  * the star fixtures' market segment; `ALL` disables it. `batchSize`
  * caps the household probe exactly like the reference's terms-agg
  * `resultLimit` (:165) — a telemetry/gate probe, not a processing
  * restriction (SURVEY.md §3.3).
  */
object RetentionJob {

  case class JobConfig(clientCode: String, dataDir: String,
                       sinkPath: String, batchSize: Int)

  def configFrom(args: Array[String]): JobConfig =
    if (args.length == 4)
      JobConfig(args(0), args(1), args(2), args(3).toInt)
    else JobConfig( // env fallback, reference :70-87
      scala.util.Properties.envOrElse("CLIENT_CODE", "ALL"),
      scala.util.Properties.envOrElse("GRAFT_DATA_DIR", "/root/testdata/sf0.001"),
      scala.util.Properties.envOrElse("GRAFT_SINK", "/tmp/graft_retention_sink"),
      scala.util.Properties.envOrElse("SPARK_PROCESS_BATCH_SIZE", "10000").toInt)

  /** Programmatic body (testable without a JVM fork). Returns the
    * number of persons with history in the sink after the run. */
  def run(spark: SparkSession, job: JobConfig): Long = {
    val persons =
      if (job.clientCode == "ALL") StarAdapter.persons(spark, job.dataDir)
      else StarAdapter.personsForTenant(spark, job.dataDir, job.clientCode)
    val encounters = StarAdapter.encounters(spark, job.dataDir)
    val cfg = StarAdapter.config(spark, job.dataDir)
    println(s"-------------------------------- PROCESS START $job")
    val pending = Protocol.countPersonsWithoutRetention(persons)
    println(s"persons without retention: $pending")
    val probe = Protocol.householdsWithoutRetentionProbe(persons, job.batchSize)
    println(s"household probe returned ${probe.count()} households " +
      s"(limit ${job.batchSize})")
    val written = Protocol.run(spark, persons, encounters, cfg,
      job.sinkPath, numBuckets = 64)
    println(s"-------------------------------- PROCESS END: $written persons")
    written
  }

  def main(args: Array[String]): Unit = {
    val job = configFrom(args)
    // Under spark-submit, spark.master arrives as a system property and
    // the submit invocation owns master + parallelism (`Suite.session`
    // yields to it); standalone `runMain` keeps the local defaults.
    val spark = graft.Suite.session(graft.Suite.cpus(),
      // reference session conf parity (:118-119) — matters only on the
      // rare RDD edges (localCheckpoint payloads); DataFrame data rides
      // Tungsten's UnsafeRow regardless
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.rdd.compress" -> "true")
    try run(spark, job) finally spark.stop()
  }
}
