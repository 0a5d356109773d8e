package graft

import org.apache.spark.sql.SparkSession

/** Driver-contract benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A full untimed warmup pass runs first so the timed pass measures
  * steady-state execution (JIT-compiled codegen, loaded parquet
  * footers, warmed buffer pools) rather than charging the first query
  * in map order with the whole session's warmup cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // local-iteration aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val suite = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter(kv => ks(kv._1)))
    // A failing query must fail the bench (exit ≠ 0), never silently
    // score ~0 s: errors are collected per query, reported on stderr,
    // and turn the run into a nonzero exit after all queries ran (so
    // one broken query doesn't hide the others' numbers).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def run1(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      // scoped: release the query's own checkpoints at its end (the
      // deterministic sibling of gcPause below — see CheckpointScope)
      try graft.operators.CheckpointScope.scoped { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
      }
    // prebuild (round-14, the ScaleSweep convention folded in): the
    // session's shared dedup artifacts (persisted DedupIndex pair
    // relation + component labeling) are built and timed BEFORE the
    // warmup pass and recorded as their own JSON keys — the build is a
    // nightly-index job, and without this stage its cost lands inside
    // whichever consumer the untimed warmup ran first, invisibly
    val prebuild = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (only.isEmpty) {
      def staged(tag: String)(body: => Long): Unit =
        try {
          val t0 = System.nanoTime()
          body
          prebuild(tag) = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(s"prebuild_$tag",
            s"${e.getClass.getName}: ${e.getMessage}")
        }
      staged("dedup_index_pairs") {
        QueryHelpers.lshPairsFor(spark, sfDir).count() }
      staged("dedup_components") {
        QueryHelpers.dedupComponentsFor(spark, sfDir).count() }
    }
    suite.foreach { case (name, fn) => run1(name, fn) } // untimed warmup
    // two timed passes, min per query: single-pass numbers on a shared
    // 32-thread box swing ±50% from GC/scheduler noise; min-of-2 is the
    // repeatable steady-state figure the 2× perf gate compares against.
    // an errored query's elapsed time is time-to-exception, not a
    // benchmark number — drop it from the timing map entirely (it is
    // reported via the "errors" JSON key and the nonzero exit instead),
    // so a crash can never read as a speedup
    def timedPass(): Map[String, Double] = suite.flatMap {
      case (name, fn) =>
        val t0 = System.nanoTime()
        run1(name, fn)
        if (errors.contains(name)) None
        else Some(name -> (System.nanoTime() - t0) / 1e9)
    }
    // Between passes, nudge the driver GC: iterative queries
    // (components/pagerank/kmeans) localCheckpoint per round, and those
    // blocks are only freed when the ContextCleaner sees the RDDs
    // become unreachable — across 119 queries × 3 passes the block
    // manager otherwise fills with dead checkpoints and the
    // latency-bound queries pay the memory pressure, not their own cost
    def gcPause(): Unit = { System.gc(); Thread.sleep(200) }
    gcPause()
    val p1 = timedPass()
    gcPause()
    val p2 = timedPass()
    // a query that errored in ANY pass is excluded outright — a number
    // from the surviving pass would still hide the breakage
    val results = p1.collect {
      case (k, v) if !errors.contains(k) =>
        k -> math.min(v, p2.getOrElse(k, v))
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Box-state transparency: a hot host inflates every number ~uniformly
    // (round 6 saw a 1.21x median drift between byte-identical runs), so
    // the artifact records the 1/5/15-min load averages at the moment the
    // timing ended — a consumer can see whether a slow total is the code
    // or the machine.
    val loadJson = try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")
      s""","loadavg":[${parts(0)},${parts(1)},${parts(2)}]"""
    } catch { case _: Throwable => "" }
    // Self-identification (round-15, the driver's scaling probe asked):
    // the artifact echoes the parallelism it actually ran with — the
    // SPARK_GRAFT_CPUS value it put in `master`/`shuffle.partitions`
    // and the context's resulting defaultParallelism — so a consumer
    // can verify the knob was honored instead of inferring it from
    // per-query ratios that are latency-floor-bound at small SF.
    val cpusJson =
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus else Json.jstr(cpus)
    val idJson =
      s""","cpus":$cpusJson,"parallelism":${spark.sparkContext.defaultParallelism}"""
    // Incremental-vs-batch replay (skipped under SPARK_GRAFT_ONLY):
    // separate keys, NOT added to the query total — it measures a
    // different execution model (streaming state maintenance) against
    // the batch recompute it replaces.
    // each replay guarded independently; a local def keeps the try out
    // of expression position (scalac emits inconsistent stackmap
    // frames — VerifyError — for concatenated try-expressions here)
    def replayPart(tag: String)(body: => String): String =
      try "," + body
      catch { case e: Throwable =>
        errors.getOrElseUpdate(tag,
          s"${e.getClass.getName}: ${e.getMessage}")
        ""
      }
    val incrJson =
      if (only.isDefined) ""
      else replayPart("incremental_replay")(
        graft.operators.CheckpointScope.scoped(
          incrementalReplay(spark, sfDir))) +
        replayPart("incremental_neardup_replay")(
          graft.operators.CheckpointScope.scoped(
            incrementalNeardupReplay(spark, sfDir)))
    // The harness that invokes this bench keeps only the LAST ~2000
    // chars of stdout, and sbt appends its own ~72-char success line
    // after ours — so the one-line contract JSON must fit in ~1850
    // chars or its head gets truncated and never parses (rounds 2-4
    // all lost their per-query map this way). With 100+ queries the
    // full map is ~2.4k chars and cannot fit, so the final line
    // carries the total plus as many of the SLOWEST queries as fit
    // (the ones that matter for perf grading), with an explicit
    // omitted-count/omitted-seconds so nothing is silently dropped.
    // The complete map is printed on an earlier line and written to
    // bench_full.json for anything that can read more than the tail.
    val fullQs = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // errored queries surface IN the JSON (name -> exception class), not
    // just on stderr, so a consumer of the artifact alone sees the run
    // was not clean
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) =>
        Json.jstr(k) + ":" + Json.jstr(v.take(120)) }.mkString("{", ",", "}")
    val pbJson =
      if (prebuild.isEmpty) ""
      else ",\"prebuild\":" + prebuild.map { case (k, v) =>
        "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$fullQs,"sf":"$sfDir"$loadJson$idJson$errJson$incrJson$pbJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(fullLine)
    val budget = 1850
    val sorted = results.toSeq.sortBy(-_._2)
    val fixedFor = (n: Int, omittedSec: Double) =>
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":,"queries_omitted":$n,"omitted_sec":${fmt(omittedSec)},"n_errors":${errors.size},"full":"bench_full.json","sf":"$sfDir"$loadJson$idJson$incrJson$pbJson}""".length + 2
    // strict slowest-prefix: stop at the first entry that doesn't fit,
    // so the omitted set is exactly the fastest tail
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var used = fixedFor(sorted.size, total)
    var keptN = 0
    var full = false
    sorted.foreach { case (k, v) =>
      if (!full) {
        val entry = "\"" + k + "\":" + fmt(v)
        if (used + entry.length + 1 <= budget) {
          kept += entry; used += entry.length + 1; keptN += 1
        } else full = true
      }
    }
    val omitted = sorted.drop(keptN)
    val omittedSec = omitted.map(_._2).sum
    val compactQs = kept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$compactQs,"queries_omitted":${omitted.size},"omitted_sec":${fmt(omittedSec)},"n_errors":${errors.size},"full":"bench_full.json","sf":"$sfDir"$loadJson$idJson$incrJson$pbJson}""")
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (name, msg) =>
        System.err.println(s"BENCH FAILURE $name: $msg")
      }
      sys.exit(1)
    }
  }

  /** Delta-proportional maintenance vs full recompute: bootstraps ~99%
    * of the star-schema encounters into checkpointed streaming state
    * (`retention.Incremental`), then times the 1%-delta trigger alone
    * against a fresh full-batch `Retention.householdRanges` run over
    * the same data. Emitted as separate JSON keys:
    * `"incremental":{"batch_sec":…,"bootstrap_sec":…,"trigger_sec":…}`.
    * The trigger cost covers state-store load + the delta's state
    * updates + range re-derivation for touched households only — the
    * quantity that replaces the reference's nightly full re-run. */
  private def incrementalReplay(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.retention.{HhEncounter, Incremental, Retention, StarAdapter}
    import spark.implicits._
    val cfg = StarAdapter.config(spark, sfDir)
    val persons = StarAdapter.persons(spark, sfDir)
    val encounters = StarAdapter.encounters(spark, sfDir)
    val t0 = System.nanoTime()
    Retention.householdRanges(persons, encounters, cfg).count()
    val batchSec = (System.nanoTime() - t0) / 1e9
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
        .foreachBatch((b: org.apache.spark.sql.Dataset[graft.retention.HhRange], _: Long) => { b.count(); () })
        .trigger(Trigger.AvailableNow()).start()
      val t = System.nanoTime()
      q.processAllAvailable(); q.stop()
      (System.nanoTime() - t) / 1e9
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
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    s""""incremental":{"batch_sec":${f(batchSec)},"bootstrap_sec":${f(bootstrapSec)},""" +
      s""""trigger_sec":${f(triggerSec)},"floor_sec":${f(floorSec)},"delta_frac":0.01}"""
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
  private[graft] def incrementalNeardupReplay(spark: SparkSession,
                                              sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val t0 = System.nanoTime()
    graft.functions.Dedup.lshCandidatePairs(
      docs, "doc_id", "text", 3, 16, 4).count()
    val batchSec = (System.nanoTime() - t0) / 1e9
    val store = java.nio.file.Files
      .createTempDirectory("graft_incr_nd").toString + "/store"
    val runs = (0 until 3).map { t =>
      val d0 = System.nanoTime()
      val pairs = graft.functions.Dedup.incrementalNearDup(spark, store,
        docs.filter(pmod(col("doc_id"), lit(3)) === t),
        "doc_id", "text", 3, 16, 4, numBuckets = 8).count()
      ((System.nanoTime() - d0) / 1e9, pairs)
    }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    s""""incremental_neardup":{"batch_sec":${f(batchSec)},""" +
      s""""bootstrap_sec":${f(runs(0)._1)},"delta2_sec":${f(runs(1)._1)},""" +
      s""""delta3_sec":${f(runs(2)._1)},"pairs":[${runs.map(_._2).mkString(",")}]}"""
  }
}
