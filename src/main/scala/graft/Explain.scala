package graft

import java.nio.file.{Files, Paths}

/** Plan-inspection tool: dumps the formatted physical plan of every
  * SparkEntry query to <outDir>/<name>.plan.txt and prints a one-line
  * summary (exchanges, joins, pushed filters) per query — the
  * ".explain and iterate" loop from the build brief, kept runnable.
  *
  * Usage: sbt "runMain graft.Explain /root/testdata/sf0.01 target/plans"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "target/plans"
    // local[4] whatever SPARK_GRAFT_CPUS says: plans stay comparable
    // across boxes
    val spark = Suite.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    Suite.select().queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.plan.txt"), plan)
        // count operators in the TREE section only — formatted mode
        // repeats every node in the details section below, which would
        // double every figure
        val tree = plan.split("\n\n")(0)
        def n(p: String) = p.r.findAllIn(tree).length
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan)
          .count(!_.contains("[]"))
        val wscg = "codegen id : (\\d+)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        println(f"PLAN $name%-24s exch=${n("Exchange")}%2d bcast=${n("BroadcastExchange")}%2d smj=${n("SortMergeJoin")}%2d bhj=${n("BroadcastHashJoin")}%2d wscg=$wscg%2d pushedF=$pushed%2d")
      } catch { case e: Throwable =>
        println(s"PLAN $name FAILED: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
