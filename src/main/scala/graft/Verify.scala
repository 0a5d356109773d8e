package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // local-iteration aid (same contract as Bench): restrict the suite;
    // the driver never sets it, so the driver always dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val suite = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter(kv => ks(kv._1)))
    // A failing query must surface as a RED correctness entry, never a
    // silently-missing one (round 5 dropped 58 crashed queries from the
    // artifact and the round read as clean): write a sentinel-schema
    // parquet in the query's slot — rows/schema/hash all mismatch the
    // oracle, so the driver records the failure — plus a machine-
    // readable error dump, and exit nonzero so the run itself is
    // visibly not clean.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    suite.foreach { case (name, fn) =>
      // scoped: release the query's own checkpoints once its parquet
      // is written (see CheckpointScope — session caches are exempt)
      try graft.operators.CheckpointScope.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name") }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_(kv._1)))
      .map { case (k, v) => s"${Json.jstr(k)}: ${Json.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${Json.jstr(k)}: ${Json.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    System.err.println(
      s"[verify] ${suite.size - failures.size}/${suite.size} queries dumped" +
        (if (failures.isEmpty) "" else s"; ${failures.size} FAILED: " +
          failures.keys.mkString(", ")))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
