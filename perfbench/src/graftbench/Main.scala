package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` builds it and
  * starts it; see perfbench/README.md for the workloads and metrics.
  *
  *   graftbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --root DIR --work DIR --out FILE --oracle FILE --nproc N
  *   graftbench.Main dump-oracle FILE
  *   graftbench.Main train --root DIR --work DIR --nproc N
  *
  * `train` runs one delivery and one query-mix set-up round so that the
  * build can record the classes both workloads load in a class-data
  * sharing archive; it measures nothing.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    def opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("dump-oracle") => dumpOracle(args(1))
      case Some("run") => run(opts)
      case Some("train") => train(opts)
      case _ =>
        System.err.println("usage: graftbench.Main run|train|dump-oracle ...")
        sys.exit(2)
    }
  }

  private def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def train(opt: Map[String, String]): Unit = {
    val nproc = opt("nproc").toInt
    val spark = session(nproc, opt("work"))
    val ctx = new Ctx(spark, 0L, opt("work"), opt("root"), nproc)
    val delta = new RetentionDelta(ctx)
    delta.setupRound(0)
    delta.op(0)
    new QueryMix(ctx, Map.empty).setupRound(0)
    spark.stop()
  }

  /** The oracle SQL of the query-mix set, for the DuckDB row counts. */
  private def dumpOracle(file: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val entries = QueryMix.Set.map(q => q -> sql.getOrElse(q, ""))
    write(file, Json.render(Json.obj(entries: _*)))
  }

  private def write(file: String, s: String): Unit =
    Files.write(Paths.get(file), s.getBytes(StandardCharsets.UTF_8))

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val work = opt("work")
    val spark = session(nproc, work)
    val ctx = new Ctx(spark, seed, work, opt("root"), nproc)
    val (wl, heapEvery) = workload match {
      case "retention_delta" => (new RetentionDelta(ctx), 1)
      case "query_mix" =>
        val counts = scala.io.Source.fromFile(opt("oracle"), "UTF-8")
        val oracle = try parseCounts(counts.mkString) finally counts.close()
        (new QueryMix(ctx, oracle), 8)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val result = new Runner(ctx, wl, seconds, traced, SetupRounds, heapEvery).run()
    val identity = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version, "setup_rounds" -> SetupRounds)
    write(opt("out"), Json.render(Json.obj(("identity" -> identity) +: result.toSeq: _*)))
    spark.stop()
  }

  /** Reads the flat {"name": count} object run.py writes. */
  private def parseCounts(s: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}
