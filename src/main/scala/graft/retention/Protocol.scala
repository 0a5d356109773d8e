package graft.retention

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.KeyedUpsert

/** Phase-1 incomplete: households with qualifying encounters still have
  * unprocessed persons — phase 2 must not run (reference
  * HouseholdRetentionProcessing.scala:786-791). */
class HouseholdRetentionNotReadyException(msg: String)
  extends RuntimeException(msg)

/** The reference job's batch-orchestration protocol as library
  * functions (SURVEY.md §3.3 "cross-cutting behaviors"): count-gated
  * short-circuiting (A6, :628/:795), re-run idempotency via the
  * not-yet-processed predicate (P8), phase ordering with fail-fast
  * (:786-791), and per-person whole-array replacement on the sink (S7).
  *
  * `persons` here carries an optional `household_retention_history`
  * ArrayType column; persons with a non-empty history are "already
  * processed" and skipped, which is exactly what makes re-runs
  * idempotent and lets an interrupted run resume.
  */
object Protocol {

  /** P8: persons that still need processing (no history yet). */
  def personsWithoutRetention(persons: DataFrame): DataFrame =
    if (!persons.columns.contains("household_retention_history"))
      persons.filter(col("household_id").isNotNull)
    else persons.filter(col("household_id").isNotNull &&
      (col("household_retention_history").isNull ||
       size(col("household_retention_history")) === 0))

  /** A6 count gate (driver-side scalar, like the reference's
    * hits.total probes). */
  def countPersonsWithoutRetention(persons: DataFrame): Long =
    personsWithoutRetention(persons).count()

  /** A5/O1 probe: the first `limit` distinct pending households in key
    * order with their member counts — the reference's ES terms
    * aggregation (`order {"_term": "asc"}, size: $resultLimit`,
    * HouseholdRetentionProcessing.scala:210-218). NB in the reference
    * the probed id list is never used to restrict processing (the
    * :253 idString is dead downstream — SURVEY.md §3.3); it is a
    * telemetry/gate probe, and that is what this reproduces. */
  def householdsWithoutRetentionProbe(persons: DataFrame, limit: Int): DataFrame =
    personsWithoutRetention(persons)
      .groupBy("household_id")
      .agg(count(lit(1)).as("n_members"))
      .orderBy("household_id")
      .limit(limit)

  /** Fail-fast guard before phase 2: every household that HAS
    * qualifying encounters must already be fully processed. */
  def assertPhase1Complete(persons: DataFrame, encounters: DataFrame,
                           cfg: RetentionConfig): Unit = {
    val pending = personsWithoutRetention(persons)
    val admits = Retention.householdAdmitDates(pending, encounters, cfg)
    val n = admits.select("household_id").distinct().count()
    if (n > 0) throw new HouseholdRetentionNotReadyException(
      s"$n households with encounters still unprocessed — run phase 1 first")
  }

  /** Refuse a `persons` frame that lazily reads the sink it is about to
    * be written into (e.g. a join with `KeyedUpsert.read(sinkPath)` for
    * the history column): the upsert swaps the sink's bucket files, and
    * the phase-2 count re-evaluates `persons` against the replaced file
    * listing and dies with FAILED_READ_FILE.FILE_NOT_EXIST after phase
    * 1 has already been written. Checked before the first write, after
    * the count gate: a re-run with nothing pending writes nothing, so
    * it may read the sink. Plan-only: walks the analyzed plan's file
    * relations, runs no job. */
  private def requireNotReadingSink(persons: DataFrame,
                                    sinkPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val sink = new Path(sinkPath)
    val root = sink.getFileSystem(
      persons.sparkSession.sparkContext.hadoopConfiguration)
      .makeQualified(sink).toString
    val reads = persons.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.rootPaths
    }.flatten.map(_.toString)
    reads.find(p => p == root || p.startsWith(root + "/")).foreach { p =>
      throw new IllegalArgumentException(
        s"persons reads $p, under the sink $sinkPath it is written into: the " +
          "upsert would replace the files it reads mid-run. Stage the " +
          "persons-with-history snapshot as its own parquet first " +
          "(write it out, read it back) and pass that.")
    }
  }

  /** Full two-phase run with gates, writing per-person nested history
    * to the keyed sink. Returns the number of persons written by THIS
    * run — |pending| + |phase-2 leftovers|, both counted on the narrow
    * person projections. No end-of-run re-read of the sink: the old
    * `read(sink).count()` finale re-scanned the whole table to report
    * on an incremental write, which at 100 TB costs more than the
    * write itself. (Phase 1 writes exactly one row per pending person:
    * the person-built scaffold guarantees every pending person's
    * household has ranges.) */
  def run(spark: SparkSession, persons: DataFrame, encounters: DataFrame,
          cfg: RetentionConfig, sinkPath: String, numBuckets: Int = 64): Long = {
    val pending = personsWithoutRetention(persons)
    val nPending = pending.count() // the A6 count gate, value reused (:628)
    if (nPending == 0L) return 0L
    requireNotReadingSink(persons, sinkPath)
    val phase1 = Retention.nestRanges(
      Retention.personRanges(pending, encounters, cfg))
    KeyedUpsert.upsert(spark, sinkPath, phase1, "person_id", numBuckets)
    // phase 2 safety net: phase 1's person-built scaffold covers every
    // pending person (including encounter-less households), so in a
    // complete run this finds nothing — it exists, as in the reference
    // (:795 count gate), for persons that appeared between phases or
    // were left behind by an interrupted earlier run.
    val done = KeyedUpsert.read(spark, sinkPath).select("person_id")
    val still = pending.join(done, Seq("person_id"), "left_anti")
    val nStill = still.count() // phase-2 count gate (:795)
    if (nStill > 0L) {
      val phase2 = Retention.nestRanges(
        Retention.phase2Ranges(still, encounters, cfg))
      KeyedUpsert.upsert(spark, sinkPath, phase2, "person_id", numBuckets)
    }
    nPending + nStill
  }
}
