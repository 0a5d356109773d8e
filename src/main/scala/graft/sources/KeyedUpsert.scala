package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

/** Keyed upsert sink over parquet — the relational stand-in for the
  * reference's Elasticsearch bulk upsert (`saveToEsWithMeta` with
  * es.write.operation=upsert, reference
  * HouseholdRetentionProcessing.scala:297-302, SURVEY.md S7): each run
  * replaces the full row for every updated key and leaves other keys
  * untouched.
  *
  * Scale design: the table is laid out in `numBuckets` hash partitions
  * of the key (directory-partitioned by `_bucket`). An upsert only
  * rewrites the buckets that contain updated keys — a 0.1% update
  * touches ~0.1% of a 100 TB table, and untouched-bucket data is never
  * read.
  *
  * Write design: `updates` is evaluated exactly ONCE per upsert — it
  * is written, bucketed, to a sibling `<table>_graft_delta` directory.
  * That one write also yields the touched-bucket set (≤ numBuckets
  * ints), as a `collect_set` observed on it: no second pass over the
  * delta. The set is applied as a literal partition filter, so the
  * survivor scan reads only the touched bucket directories. The
  * anti-join keys and the new rows are read back from the durable
  * copy, with the schema it was written with (no footer job). A
  * nondeterministic or re-evaluation-unstable `updates` therefore
  * cannot stage a bucket whose survivors were never read, and the
  * swap refuses any staged bucket outside the observed set. The merged
  * buckets are written clustered by bucket, so each touched bucket
  * becomes one file (more only past
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`); an
  * unclustered write would leave one small file per (task, bucket)
  * pair for every later upsert to re-read.
  *
  * Durability design (no ACID table format available, so the commit
  * protocol is explicit): merged buckets are first written COMPLETELY
  * to a staging directory (the live table is only read at that point,
  * never mutated), then swapped in per bucket via metadata-only
  * renames, with the old bucket dirs preserved in a backup directory
  * and a manifest (written before the first rename) recording the
  * touched bucket set. A crash at ANY point leaves every pre-upsert
  * row recoverable: the next `upsert`/`read` call rolls an
  * interrupted swap back to the pre-upsert state from the backup +
  * manifest, and drops a leftover delta. The delta and staging copies
  * are files, not `persist`/`localCheckpoint` blocks, so executor loss
  * mid-write cannot destroy untouched rows.
  *
  * Listing design: every read of the table (`read`, the survivor
  * scan) lists it on the driver, one `listStatus` per directory, and
  * hands the listing to Spark's `InMemoryFileIndex`. Spark's own
  * listing would start a Spark job with one task per bucket directory
  * on every read once a table has more directories than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32); for
  * a small delivery those jobs cost more than the rows. The relation
  * is the one `spark.read.parquet` builds: same files, schema,
  * `_bucket` partition pruning and root path.
  *
  * Layout contract: the bucket count is fixed at first publish and
  * recorded in a hidden `_NUM_BUCKETS` marker in the table root
  * (Spark's file listing skips `_`-prefixed names). An upsert with a
  * different count is refused: its updated keys would hash to new
  * buckets while their old rows survived in the old ones. A table
  * published without the marker adopts the first upserting caller's
  * count.
  *
  * Concurrency contract: SINGLE WRITER (matching the reference's one
  * batch job per index). Two concurrent upserts to the same path would
  * race on the delta/staging/backup directories; serialize writers or
  * give each its own table. Readers are safe at any time — they see
  * either a bucket's old or new directory, and `read` first rolls back
  * any interrupted swap.
  */
object KeyedUpsert {

  val BucketCol = "_bucket"
  private val DeltaDir = "_graft_delta"
  private val StageDir = "_graft_stage"
  private val BackupDir = "_graft_backup"
  private val Manifest = "_MANIFEST"
  private val NumBuckets = "_NUM_BUCKETS"

  private def bucketed(df: DataFrame, keyCol: String, numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(col(keyCol)), lit(numBuckets)))

  /** Write `df` partitioned by bucket, one file per bucket: the
    * rebalance puts each bucket in one shuffle partition, which AQE
    * splits only past the advisory partition size (`repartition(col)`
    * would push a whole bucket through one task at any size). */
  private def writeClustered(df: DataFrame, dir: Path): Unit =
    df.hint("rebalance", col(BucketCol))
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(dir.toString)

  private def sibling(root: Path, suffix: String): Path =
    new Path(root.getParent, root.getName + suffix)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Upsert `updates` (one row per key) into the keyed table at `path`.
    * Whole-row replace per key, matching the reference's per-person
    * array replacement semantics. `updates` is evaluated once; an
    * empty `updates` leaves an existing table unchanged. Throws
    * IllegalArgumentException if the table was published with a
    * different `numBuckets`.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keyCol: String, numBuckets: Int = 64): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val root = new Path(path)
    val fs = fsOf(spark, path)
    recover(fs, root) // roll back any interrupted previous swap first
    val stage = sibling(root, StageDir)

    if (!fs.exists(root)) {
      // First write: stage fully, then publish with one rename.
      writeClustered(bucketed(updates, keyCol, numBuckets), stage)
      writeText(fs, new Path(stage, NumBuckets), numBuckets.toString)
      if (!fs.rename(stage, root))
        throw new java.io.IOException(s"failed to publish $stage -> $root")
      return
    }
    checkNumBuckets(fs, root, numBuckets)

    // The one evaluation of `updates`, observing its bucket set.
    // Unpartitioned: a handful of files, not one per bucket.
    val deltaDir = sibling(root, DeltaDir)
    val keyed = bucketed(updates, keyCol, numBuckets)
    val observed = new Observation()
    keyed.observe(observed, collect_set(col(BucketCol)).as("touched"))
      .write.mode(SaveMode.Overwrite).parquet(deltaDir.toString)
    val touched = observed.get("touched")
      .asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted
    if (touched.nonEmpty) {
      val delta = spark.read.schema(keyed.schema).parquet(deltaDir.toString)
      // Survivors: rows in touched buckets whose key is NOT updated.
      // Reads the live table; the live table is not modified until the
      // staging write below has fully committed.
      val survivors = scan(spark, path)
        .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
        .join(delta.select(col(keyCol)), Seq(keyCol), "left_anti")
      writeClustered(survivors.unionByName(delta), stage)
      swap(fs, root, stage, touched.toSet)
    }
    fs.delete(deltaDir, true)
  }

  /** Refuse an upsert whose bucket count differs from the table's;
    * a table without the marker adopts `numBuckets`. */
  private def checkNumBuckets(fs: FileSystem, root: Path, numBuckets: Int): Unit = {
    val marker = new Path(root, NumBuckets)
    if (!fs.exists(marker)) writeText(fs, marker, numBuckets.toString)
    else {
      val recorded = readText(fs, marker).trim.toInt
      if (recorded != numBuckets) throw new IllegalArgumentException(
        s"$root is laid out in $recorded buckets; upsert asked for " +
        s"$numBuckets, which would leave updated keys' old rows in place")
    }
  }

  /** Swap staged buckets into the live table. Manifest first, so an
    * interruption anywhere below is rolled back by recover(). A staged
    * bucket outside `touched` (the buckets the delta holds) would
    * replace a bucket whose survivors were never read: refused before
    * the manifest, so the live table is never touched. */
  private def swap(fs: FileSystem, root: Path, stage: Path,
                   touched: Set[Int]): Unit = {
    val stagedBuckets = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.startsWith(BucketCol + "="))
    val stray = stagedBuckets.map(_.getName)
      .filterNot(n => touched(n.stripPrefix(BucketCol + "=").toInt))
    if (stray.nonEmpty) throw new IllegalStateException(
      s"staged ${stray.mkString(", ")} under $stage, outside the delta's " +
        s"buckets ${touched.toSeq.sorted.mkString(",")}; not swapped")
    val backup = sibling(root, BackupDir)
    fs.mkdirs(backup)
    writeText(fs, new Path(backup, Manifest),
      stagedBuckets.map(_.getName).mkString("\n"))
    stagedBuckets.foreach { staged =>
      val live = new Path(root, staged.getName)
      if (fs.exists(live) &&
          !fs.rename(live, new Path(backup, staged.getName)))
        throw new java.io.IOException(s"failed to back up $live")
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"failed to swap in $staged")
    }
    // COMMIT POINT: deleting the manifest — a single-file delete — makes
    // the new buckets final. It MUST go before the recursive backup
    // delete: a crash midway through deleting the backup dir would
    // otherwise leave the manifest alongside a PARTIAL backup, and
    // recovery would "roll back" committed buckets whose backups are
    // already gone — destroying them.
    fs.delete(new Path(backup, Manifest), false)
    fs.delete(backup, true)
    fs.delete(stage, true)
  }

  /** Roll back an interrupted swap: restore every manifest-listed
    * bucket from backup (or drop it, if it was newly created by the
    * interrupted run), then clear staging and the delta. The manifest's
    * existence is the authority: it is written before the first rename
    * and deleted (single-file, effectively atomic) only at commit, so
    * when it is present the backup is guaranteed complete for every
    * pre-existing touched bucket. Idempotent — safe to call any number
    * of times, including after a crash mid-recovery. */
  private def recover(fs: FileSystem, root: Path): Unit = {
    val backup = sibling(root, BackupDir)
    val stage = sibling(root, StageDir)
    val manifest = new Path(backup, Manifest)
    if (fs.exists(manifest)) {
      readText(fs, manifest).split("\n").filter(_.nonEmpty).foreach { name =>
        val live = new Path(root, name)
        val saved = new Path(backup, name)
        if (fs.exists(saved)) {          // pre-existing bucket: restore
          if (fs.exists(live)) fs.delete(live, true)
          if (!fs.rename(saved, live))
            throw new java.io.IOException(s"failed to restore $saved")
        } else if (fs.exists(stage) &&
                   !fs.exists(new Path(stage, name))) {
          // bucket was new in the interrupted run and already moved
          // out of staging — it did not exist before; drop it
          if (fs.exists(live)) fs.delete(live, true)
        }
      }
    }
    Seq(backup, stage, sibling(root, DeltaDir))
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Read back the keyed table (dropping the bucketing column),
    * rolling back any interrupted swap first. The same rows, schema and
    * input files as `spark.read.parquet(path).drop("_bucket")`, without
    * Spark's listing job. */
  def read(spark: SparkSession, path: String): DataFrame = {
    recover(fsOf(spark, path), new Path(path))
    scan(spark, path).drop(BucketCol)
  }

  /** The table at `path` as `spark.read.parquet(path)` resolves it — a
    * `LogicalRelation` over an `InMemoryFileIndex` rooted at the
    * qualified path, `_bucket` inferred as its partition column, the
    * schema from one footer — but listed here on the driver (see the
    * listing design above). A table without a data file (missing,
    * empty) goes to `spark.read.parquet` for Spark's own error. */
  private def scan(spark: SparkSession, path: String): DataFrame = {
    val fs = fsOf(spark, path)
    val root = fs.makeQualified(new Path(path))
    val leaves =
      if (fs.exists(root)) listLeaves(fs, root) else Array.empty[FileStatus]
    if (leaves.forall(_.getPath.getName.startsWith("_")))
      return spark.read.parquet(path)
    val options = Map("path" -> path)
    val index = new InMemoryFileIndex(spark, Seq(root), options, None,
      new Listed(root, leaves))
    val format = new ParquetFileFormat()
    val dataSchema = format.inferSchema(spark, Map.empty, index.allFiles())
      .getOrElse(throw new IllegalStateException(s"no parquet schema under $root"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftSqlBridge.asNullable(dataSchema), None, format, options)(spark))
  }

  /** Every file under `dir` that Spark's listing keeps, one
    * `listStatus` per directory. */
  private def listLeaves(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir)
      .filterNot(s => GraftSqlBridge.hiddenFileName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) listLeaves(fs, s.getPath) else Array(s))

  /** Answers the index's lookup of `root` with the driver listing.
    * `refresh()` calls `invalidateAll` first, which drops it: a
    * refreshed index (`spark.catalog.refreshByPath`) lists again
    * instead of keeping files a later upsert has replaced. */
  private final class Listed(root: Path, leaves: Array[FileStatus])
      extends FileStatusCache {
    @volatile private var held: Option[Array[FileStatus]] = Some(leaves)
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      if (p == root) held else None
    override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = held = None
  }
}
