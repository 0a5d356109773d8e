package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.SeqMap
import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.CheckpointScope

/** The one runner behind Bench, ScaleSweep and Verify: the session
  * (every main's), selection, per-query guard, pass loop, artifact. */
object Suite {

  type Query = (SparkSession, String) => DataFrame
  type Replay = (SparkSession, String) => SeqMap[String, Any]

  def cpus(default: String = "32"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The session conf given the JVM's system properties: local[cpus],
    * `cpus` shuffle partitions, AQE, ANSI (overflow and bad casts throw
    * instead of silently wrapping, as q_price_index once did), UTC, no
    * UI, then `extra`. Each default yields to a system property of its
    * key (`SparkSession.Builder.config` would override it), so an A/B
    * variant is a `-Dspark.…` option. An external `spark.master` (spark-submit) owns
    * parallelism, so the shuffle default yields with it. */
  def sessionConf(props: collection.Map[String, String], cpus: String,
                  extra: Seq[(String, String)] = Nil): SeqMap[String, String] = {
    val local = if (props.contains("spark.master")) Nil
      else Seq("spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus)
    SeqMap.from((local ++ Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "true", "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra).filterNot(kv => props.contains(kv._1)))
  }

  def session(cpus: String, extra: (String, String)*): SparkSession = {
    val spark = sessionConf(sys.props, cpus, extra).foldLeft(
      SparkSession.builder())((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Selection(queries: Seq[(String, Query)], skipped: Seq[String])

  /** `queries` in name order; the comma lists SPARK_GRAFT_ONLY keeps and
    * SPARK_GRAFT_SKIP drops (a size guard that fires by design at a
    * fixture's scale, like q_knn_join's N² ceiling at sf10; the artifact
    * lists it, so the exclusion is loud). */
  def select(queries: collection.Map[String, Query] = SparkEntry.queries,
             env: collection.Map[String, String] = sys.env): Selection = {
    def names(key: String) =
      env.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val only = names("SPARK_GRAFT_ONLY")
    val skip = names("SPARK_GRAFT_SKIP").getOrElse(Set.empty[String])
    Selection(queries.toSeq.filter(kv => only.forall(_(kv._1)) && !skip(kv._1))
      .sortBy(_._1), skip.toSeq.sorted)
  }

  /** The one per-query guard: `body` inside CheckpointScope.scoped (its
    * checkpoints are released when it returns), a throw kept as the first
    * error under `name`: a failing query never scores ~0 s, nor hides
    * the others. */
  def guarded[T](name: String, errors: mutable.Map[String, String])(
      body: => T): Option[T] =
    try Some(CheckpointScope.scoped(body))
    catch { case e: Throwable =>
      errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
      None
    }

  /** What tells the timing mains apart. "value" is the passes' wall time
    * when `wallValue`, else the sum of per-query minima. A warm-up is an
    * untimed pass, so the timed ones see steady state (compiled codegen,
    * read footers), not the first query paying the session's warm-up. */
  final case class Timing(metric: String, wallValue: Boolean, warmup: Boolean,
                          replays: Seq[(String, Replay)], errorsKey: String)

  val Passes = 2

  def timeOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time `sel` on `sfDir`, write the artifact to `out`, report errors on
    * stderr; returns the artifact and whether the run was clean. First
    * the shared dedup artifacts are built and timed as keys of their own
    * (a nightly-index job, else paid unseen by the first consumer); then
    * the warm-up; then [[Passes]] passes, min per query (one pass on a
    * shared box swings ±50%), the first kept as "cold", each after a GC
    * (Spark frees dead localCheckpoint blocks only once it ran). A query that
    * errors in any pass leaves the timings: a surviving figure would
    * hide it. Each timed query flushes the artifact so far to
    * `<out>.partial` (a sweep dying at query 58 of 60 keeps 57 rows),
    * removed once `out` lands. The artifact echoes the shuffle
    * partitions and ANSI flag the session read back. */
  def timed(spark: SparkSession, sfDir: String, sel: Selection,
            timing: Timing, out: Option[String]): (SeqMap[String, Any], Boolean) = {
    val errors = mutable.LinkedHashMap[String, String]()
    val times, cold, prebuild = mutable.LinkedHashMap[String, Double]()
    val rows = mutable.LinkedHashMap[String, Long]()
    val replays = mutable.LinkedHashMap[String, Any]()
    var pass = 0
    var wall = 0.0
    def log(msg: String): Unit = System.err.println(s"[suite] $msg")
    def slowestFirst(m: collection.Map[String, Double]) =
      SeqMap.from(m.toSeq.sortBy(-_._2))
    def artifact(inProgress: Boolean): SeqMap[String, Any] =
      SeqMap[String, Any]("metric" -> timing.metric,
        "value" -> (if (timing.wallValue) wall else times.values.sum),
        "unit" -> "sec", "sf" -> sfDir) ++
        (if (inProgress) Seq("in_progress" -> true, "pass" -> pass) else Nil) ++
        // a hot host inflates every number about uniformly: the load
        // average tells a slow machine from slow code
        Try(Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3)
          .map(_.toDouble).toSeq).toOption.map("loadavg" -> _) ++ Seq(
        "cpus" -> cpus().toIntOption.getOrElse(cpus()),
        "parallelism" -> spark.sparkContext.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "ansi" -> spark.conf.get("spark.sql.ansi.enabled").toBoolean,
        "scoped" -> true, "passes" -> Passes,
        "n_queries" -> sel.queries.size, "n_clean" -> times.size,
        "skipped" -> sel.skipped, "prebuild" -> SeqMap.from(prebuild),
        "queries" -> slowestFirst(times), "cold" -> slowestFirst(cold),
        "rows" -> SeqMap.from(rows.toSeq.sortBy(_._1)),
        timing.errorsKey -> SeqMap.from(errors.view.mapValues(_.take(200)))) ++
        replays

    Seq[(String, Query)]("dedup_index_pairs" -> QueryHelpers.lshPairsFor,
        "dedup_components" -> QueryHelpers.dedupComponentsFor).foreach {
      case (tag, build) =>
        val (n, sec) =
          timeOf(guarded(s"prebuild_$tag", errors)(build(spark, sfDir).count()))
        n.foreach(n => { prebuild(tag) = sec; log(s"prebuild $tag rows=$n") })
    }
    def runPass(timedPass: Boolean): Unit =
      for ((name, fn) <- sel.queries if !errors.contains(name)) {
        val (n, sec) = timeOf(guarded(name, errors)(fn(spark, sfDir).count()))
        if (n.isEmpty) { times -= name; cold -= name; rows -= name }
        else if (timedPass) {
          if (pass == 1) cold(name) = sec
          times(name) = times.get(name).fold(sec)(math.min(_, sec))
          rows(name) = n.get
        }
        log(f"${if (timedPass) s"p$pass" else "warm-up"} $name%-28s " +
          n.fold(s"FAIL ${errors(name).take(200)}")(r => f"rows=$r%-10d $sec%.3fs"))
        if (timedPass) out.foreach(p => Try(Files.writeString(
          Paths.get(p + ".partial"), Json.render(artifact(inProgress = true)))))
      }
    if (timing.warmup) runPass(timedPass = false)
    wall = timeOf((1 to Passes).foreach { p =>
      pass = p
      System.gc(); Thread.sleep(200)
      runPass(timedPass = true)
    })._2
    for ((key, replay) <- timing.replays)
      guarded(s"${key}_replay", errors)(replay(spark, sfDir)).foreach(replays(key) = _)
    val full = artifact(inProgress = false)
    out.foreach { p =>
      Files.writeString(Paths.get(p), Json.render(full) + "\n")
      Files.deleteIfExists(Paths.get(p + ".partial"))
    }
    log(s"${times.size}/${sel.queries.size} clean")
    errors.foreach { case (name, msg) => log(s"FAILURE $name: $msg") }
    (full, errors.isEmpty)
  }
}
