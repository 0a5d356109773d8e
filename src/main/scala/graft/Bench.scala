package graft

import scala.collection.immutable.SeqMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.retention.{HhEncounter, HhRange, Incremental, Retention, StarAdapter}

/** Contract benchmark: `Suite.timed` over SPARK_GRAFT_SF_DIR with a
  * warm-up pass; writes `target/bench_full.json` (its in-progress copy
  * `target/bench_full.json.partial`) under the working directory,
  * prints it, then the compact line. The replays are keys of their own, not in the total: they
  * time state maintenance against the batch recompute it replaces. */
object Bench {

  val timing: Suite.Timing = Suite.Timing("total", wallValue = false,
    warmup = true, Seq("incremental" -> incrementalReplay,
      "incremental_neardup" -> incrementalNeardupReplay), errorsKey = "errors")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // under the build's output dir: the repository root's copy is a
    // committed record, not this run's output
    val out = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(out.getParent)
    val spark = Suite.session(Suite.cpus())
    val clean = try run(spark, sfDir, Suite.select(), out.toString)
      finally spark.stop()
    if (!clean) sys.exit(1)
  }

  def run(spark: SparkSession, sfDir: String, sel: Suite.Selection,
          fullPath: String): Boolean = {
    val (full, clean) = Suite.timed(spark, sfDir, sel, timing, Some(fullPath))
    println(Json.render(full))
    println(compactLine(full, fullPath))
    clean
  }

  /** The harness keeps only the LAST ~2000 chars of stdout, sbt adds a
    * ~72-char line after ours, and a longer line loses its head and never
    * parses (rounds 2-4 lost their query map so). So this keeps the
    * slowest-first prefix of the queries that fits in `budget`, counts
    * the omitted fastest tail and its seconds, and drops the other maps. */
  def compactLine(full: SeqMap[String, Any], fullPath: String,
                  budget: Int = 1850): String = {
    val sorted = full("queries").asInstanceOf[SeqMap[String, Double]].toSeq
    val nErrors = full("errors").asInstanceOf[collection.Map[_, _]].size
    def line(kept: Int) = Json.render(full.take(3) ++ SeqMap(
      "queries" -> SeqMap.from(sorted.take(kept)),
      "queries_omitted" -> (sorted.size - kept),
      "omitted_sec" -> sorted.drop(kept).map(_._2).sum,
      "n_errors" -> nErrors, "full" -> fullPath) ++
      (full.drop(3) -- Seq("queries", "cold", "rows", "errors")))
    var kept = 0
    while (kept < sorted.size && line(kept + 1).length <= budget) kept += 1
    line(kept)
  }

  /** Delta-proportional maintenance vs full recompute: bootstraps ~99%
    * of the star-schema encounters into checkpointed streaming state
    * (`retention.Incremental`), then times the 1%-delta trigger alone
    * against a fresh full-batch `Retention.householdRanges` run over
    * the same data. The trigger cost covers state-store load + the delta's state
    * updates + range re-derivation for touched households only — the
    * quantity that replaces the reference's nightly full re-run. */
  private def incrementalReplay(spark: SparkSession,
                                sfDir: String): SeqMap[String, Any] = {
    import spark.implicits._
    val cfg = StarAdapter.config(spark, sfDir)
    val persons = StarAdapter.persons(spark, sfDir)
    val encounters = StarAdapter.encounters(spark, sfDir)
    val batchSec =
      Suite.timeOf(Retention.householdRanges(persons, encounters, cfg).count())._2
    val hhEnc = encounters.join(persons, "person_id")
      .select(col("household_id"),
        datediff(col("admit_date"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("int").as("admit_epoch_day"))
    // delta = 1% of HOUSEHOLDS (not rows): the trigger's state work
    // must scale with touched households, so the slice is keyed the
    // way real late-arriving encounters are
    val slot = pmod(hash(col("household_id")), lit(100))
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr")
    val src = tmp.resolve("src")
    java.nio.file.Files.createDirectories(src)
    def stage(df: DataFrame, tag: String): Unit = {
      val out = tmp.resolve("w_" + tag).toString
      df.write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath, src.resolve(s"${tag}_$i.parquet"))
        }
    }
    def runTrigger(): Double = {
      val stream = spark.readStream
        .schema("household_id BIGINT, admit_epoch_day INT")
        .parquet(src.toString).as[HhEncounter]
      val q = Incremental.updates(stream, cfg).writeStream
        .outputMode("update")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch((b: Dataset[HhRange], _: Long) => { b.count(); () })
        .trigger(Trigger.AvailableNow()).start()
      Suite.timeOf { q.processAllAvailable(); q.stop() }._2
    }
    stage(hhEnc.filter(slot =!= 0), "b")
    val bootstrapSec = runTrigger() // ~99% of households → initial state
    stage(hhEnc.filter(slot === 0), "d")
    val triggerSec = runTrigger()   // the 1%-of-households delta, alone
    // floor: a 0-row (but present) file forces a full microbatch —
    // planning, shuffle, state-store open/commit on every partition —
    // with zero delta work, separating fixed trigger machinery from
    // the delta-proportional part (trigger_sec − floor_sec)
    stage(hhEnc.filter(lit(false)), "e")
    val floorSec = runTrigger()
    SeqMap("batch_sec" -> batchSec, "bootstrap_sec" -> bootstrapSec,
      "trigger_sec" -> triggerSec, "floor_sec" -> floorSec, "delta_frac" -> 0.01)
  }

  /** Per-delivery timings for the cross-run incremental near-dup store
    * (the q_incremental_neardup shape: three disjoint thirds of the
    * corpus through one persisted KeyedUpsert signature store) —
    * emitted as separate keys so the DELTA-proportionality claim is a
    * measurement, not a single mixed figure: delivery 1 bootstraps the
    * store (signature pass + full write), deliveries 2-3 are deltas
    * (signature pass over the delta + bucket join against the store +
    * touched-bucket rewrite). Also runs the one-shot batch LSH over
    * the full corpus as the recompute baseline it replaces. */
  private[graft] def incrementalNeardupReplay(
      spark: SparkSession, sfDir: String): SeqMap[String, Any] = {
    val docs = Tables.load(spark, sfDir, "documents")
    val batchSec = Suite.timeOf(graft.functions.Dedup.lshCandidatePairs(
      docs, "doc_id", "text", 3, 16, 4).count())._2
    val store = java.nio.file.Files
      .createTempDirectory("graft_incr_nd").toString + "/store"
    val runs = (0 until 3).map(t => Suite.timeOf(
      graft.functions.Dedup.incrementalNearDup(spark, store,
        docs.filter(pmod(col("doc_id"), lit(3)) === t),
        "doc_id", "text", 3, 16, 4, numBuckets = 8).count()))
    SeqMap("batch_sec" -> batchSec, "bootstrap_sec" -> runs(0)._2,
      "delta2_sec" -> runs(1)._2, "delta3_sec" -> runs(2)._2,
      "pairs" -> runs.map(_._1))
  }
}
