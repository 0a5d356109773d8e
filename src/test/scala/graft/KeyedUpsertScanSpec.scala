package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.KeyedUpsert

/** KeyedUpsert lists its table on the driver instead of through Spark's
  * listing job: the reads it builds must be the ones `spark.read.parquet`
  * builds (rows, schema, files, partition pruning), must start no job
  * with a task per bucket directory, and must not hold on to a listing
  * that a later upsert has replaced. */
class KeyedUpsertScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Buckets = 64

  private def fsFor(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def drain(): Unit =
    org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(spark.sparkContext)

  /** A 64-bucket table after one delivery, with every kind of file
    * Spark's listing skips: `_SUCCESS` and `_NUM_BUCKETS` in the root,
    * `.crc` checksums beside the data, an `_x` file in a bucket dir. */
  private def decoyedTable(name: String): String = {
    val path = Files.createTempDirectory(name).toString + "/t"
    KeyedUpsert.upsert(spark, path,
      (0L until 2000L).map(k => (k, s"v$k", k * 0.5)).toDF("k", "v", "w"),
      "k", Buckets)
    KeyedUpsert.upsert(spark, path,
      (1990L until 2010L).map(k => (k, s"u$k", -1.0)).toDF("k", "v", "w"),
      "k", Buckets)
    val fs = fsFor(path)
    val root = new Path(path)
    fs.create(new Path(root, "_SUCCESS"), true).close()
    val bucket = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(KeyedUpsert.BucketCol + "=")).head
    val x = fs.create(new Path(bucket, "_x"), true)
    x.write("not parquet".getBytes("UTF-8")); x.close()
    // a stray checksum with no data file behind it (the local file
    // system hides the ones it writes itself from listStatus)
    Files.write(java.nio.file.Paths.get(bucket.toUri.getPath, ".stray.parquet.crc"),
      "not a checksum".getBytes("UTF-8"))
    val names = Seq(root, bucket)
      .flatMap(d => new java.io.File(d.toUri.getPath).list().toSeq).toSet
    assert(Set("_SUCCESS", "_NUM_BUCKETS", "_x", ".stray.parquet.crc",
      "._NUM_BUCKETS.crc").subsetOf(names), names)
    path
  }

  /** jobs started while `body` runs, as their task counts */
  private def jobsDuring(body: => Unit): Seq[Int] = {
    drain()
    val tasks = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tasks.synchronized { tasks += js.stageInfos.map(_.numTasks).sum }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() }
    finally spark.sparkContext.removeSparkListener(listener)
    tasks.synchronized(tasks.toList)
  }

  test("read gives spark.read.parquet's rows, schema and files past decoy files") {
    val path = decoyedTable("scan_parity")
    val ours = KeyedUpsert.read(spark, path)
    val spark_ = spark.read.parquet(path).drop(KeyedUpsert.BucketCol)
    assert(ours.schema == spark_.schema)
    assert(ours.inputFiles.sorted.toSeq == spark_.inputFiles.sorted.toSeq)
    assert(ours.inputFiles.length == Buckets)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(rows(ours) == rows(spark_))
    assert(rows(ours).size == 2010)
    // the bucket column prunes as a partition column, as it does there
    val one = KeyedUpsert.read(spark, path).select("k").filter($"k" === 7L)
    assert(one.as[Long].collect().toSeq == Seq(7L))
  }

  test("a missing or empty table fails with spark.read.parquet's own error") {
    import org.apache.spark.sql.AnalysisException
    val dir = Files.createTempDirectory("scan_empty").toString
    def condition(path: String) =
      intercept[AnalysisException](KeyedUpsert.read(spark, path)).getCondition
    assert(condition(dir + "/missing") == "PATH_NOT_FOUND")
    Files.createDirectories(java.nio.file.Paths.get(dir, "empty", "_bucket=0"))
    Files.write(java.nio.file.Paths.get(dir, "empty", "_NUM_BUCKETS"), "64".getBytes("UTF-8"))
    assert(condition(dir + "/empty") ==
      intercept[AnalysisException](spark.read.parquet(dir + "/empty")).getCondition)
  }

  test("building a read starts at most one job; an upsert none with a task per bucket") {
    val path = decoyedTable("scan_jobs")
    val readJobs = jobsDuring { KeyedUpsert.read(spark, path) }
    assert(readJobs.size <= 1, s"building read started jobs of $readJobs tasks")
    val upsertJobs = jobsDuring {
      KeyedUpsert.upsert(spark, path,
        (3000L until 3200L).map(k => (k, "new", 0.0)).toDF("k", "v", "w"),
        "k", Buckets)
    }
    assert(upsertJobs.nonEmpty)
    assert(upsertJobs.forall(_ < Buckets),
      s"upsert started jobs of $upsertJobs tasks")
    assert(KeyedUpsert.read(spark, path).count() == 2210)
  }

  test("the survivor scan keeps its _bucket IN partition filter") {
    val path = decoyedTable("scan_prune")
    val root = fsFor(path).makeQualified(new Path(path))
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      KeyedUpsert.upsert(spark, path,
        Seq((5L, "five", 5.0), (6L, "six", 6.0)).toDF("k", "v", "w"), "k", Buckets)
      drain()
    } finally spark.listenerManager.unregister(listener)
    val scans = plans.synchronized(plans.toList).flatMap(p => collect(p) {
      case s: FileSourceScanExec if s.relation.location.rootPaths == Seq(root) => s
    })
    assert(scans.nonEmpty, "no scan of the table in the upsert's plans")
    scans.foreach { s =>
      val pruned = s.partitionFilters.exists(_.exists {
        case In(a, _) => a.references.exists(_.name == KeyedUpsert.BucketCol)
        case InSet(a, _) => a.references.exists(_.name == KeyedUpsert.BucketCol)
        case _ => false
      })
      assert(pruned, s"survivor scan lost its partition filter: ${s.partitionFilters}")
    }
    assert(KeyedUpsert.read(spark, path).filter($"k".isin(5L, 6L))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((5L, "five", 5.0), (6L, "six", 6.0)))
  }

  test("a read held across an upsert does not pin its listing") {
    val path = decoyedTable("scan_stale")
    def late(from: Long) = (from until from + 100).map(k => (k, "late", 1.0))
      .toDF("k", "v", "w")
    // a held frame: a fresh read after the upsert lists the table anew
    val held = KeyedUpsert.read(spark, path)
    assert(held.count() == 2010)
    KeyedUpsert.upsert(spark, path, late(5000L), "k", Buckets)
    assert(KeyedUpsert.read(spark, path).count() == 2110,
      "a fresh read must list the new buckets")
    // a held, cached frame (which a fresh read also resolves to):
    // refreshByPath refreshes its index, which must list again
    val cached = KeyedUpsert.read(spark, path).cache()
    try {
      assert(cached.count() == 2110)
      KeyedUpsert.upsert(spark, path, late(6000L), "k", Buckets)
      spark.catalog.refreshByPath(path)
      assert(cached.count() == 2210, "refreshByPath must relist a held read")
      assert(cached.filter($"v" === "late").count() == 200)
      assert(KeyedUpsert.read(spark, path).count() == 2210)
    } finally cached.unpersist()
  }

  test("an upsert refreshes Spark's cache of the table: fresh reads see its rows") {
    val path = decoyedTable("scan_cache")
    val cached = spark.read.parquet(path).cache()
    try {
      assert(cached.count() == 2010)
      KeyedUpsert.upsert(spark, path,
        (5000L until 5100L).map(k => (k, "late", 1.0)).toDF("k", "v", "w"),
        "k", Buckets)
      // no refreshByPath here: the upsert did it
      assert(KeyedUpsert.read(spark, path).count() == 2110)
      assert(spark.read.parquet(path).count() == 2110)
      assert(KeyedUpsert.read(spark, path).filter($"v" === "late").count() == 100)
    } finally cached.unpersist()
  }
}
