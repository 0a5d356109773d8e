package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Suite.session(Suite.cpus())
    new java.io.File(outDir).mkdirs()
    val suite = Suite.select().queries // SPARK_GRAFT_ONLY / _SKIP narrow it
    // A failing query must surface as a RED correctness entry, never a
    // silently-missing one (round 5 dropped 58 crashed queries from the
    // artifact and the round read as clean): write a sentinel-schema
    // parquet in the query's slot — rows/schema/hash all mismatch the
    // oracle, so the driver records the failure — plus a machine-
    // readable error dump, and exit nonzero so the run itself is
    // visibly not clean.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    suite.foreach { case (name, fn) =>
      val slot = s"$outDir/$name"
      if (Suite.guarded(name, failures) {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(slot)
          }.isEmpty) {
        System.err.println(s"[verify] $name FAILED: ${failures(name)}")
        import spark.implicits._
        scala.util.Try(Seq(failures(name).take(500)).toDF("__verify_error")
          .coalesce(1).write.mode("overwrite").parquet(slot))
      }
    }
    val names = suite.map(_._1).toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(kv => names(kv._1))))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      Json.render(failures))
    System.err.println(
      s"[verify] ${suite.size - failures.size}/${suite.size} queries dumped" +
        (if (failures.isEmpty) "" else s"; ${failures.size} FAILED: " +
          failures.keys.mkString(", ")))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
