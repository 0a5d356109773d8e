package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed upsert sink over parquet — the relational stand-in for the
  * reference's Elasticsearch bulk upsert (`saveToEsWithMeta` with
  * es.write.operation=upsert, reference
  * HouseholdRetentionProcessing.scala:297-302, SURVEY.md S7): each run
  * replaces the full row for every updated key and leaves other keys
  * untouched.
  *
  * Scale design: the table is laid out in `numBuckets` hash partitions
  * of the key (directory-partitioned by `_bucket`), plus one inbox
  * partition (below). An upsert reads only the buckets that contain
  * updated keys — a 0.1% update touches ~0.1% of a 100 TB table, and
  * untouched-bucket data is never read.
  *
  * Write design: `updates` is evaluated exactly ONCE per upsert — it
  * is written, with its own columns only, to a sibling
  * `<table>_graft_delta` directory. That one write also yields the
  * touched-bucket set (≤ numBuckets ints), as a `collect_set` of the
  * key's bucket observed on it: no second pass over the delta. Every
  * later step reads the durable copy, with the schema it was written
  * with (no footer job), and re-derives a row's bucket from its key. A
  * nondeterministic or re-evaluation-unstable `updates` therefore
  * cannot stage a bucket whose survivors were never read.
  *
  * One job then checks for overlap: it reads only the key column of the
  * touched buckets and of the inbox (a literal `_bucket IN` partition
  * filter, parquet column pruning), counts the keys the delta also
  * holds, and collects the buckets the inbox's keys hash to. Then one of
  * two commits:
  *  - append: no delta key is in the table yet, the delta's columns
  *    equal the table's, and the inbox would hold at most
  *    [[MaxInboxFiles]] files. The delta's parquet files are renamed
  *    into the inbox; no existing file is touched and no survivor row is
  *    read. A phase-1 retention delivery is insert-only by construction
  *    (a pending person has no sink row), so it commits this way.
  *  - fold: every other upsert. The buckets touched by the delta or
  *    holding an inbox key's hash are rewritten from their survivors
  *    (rows whose key the delta does not update), the inbox's survivors
  *    and the delta, each row bucketed by the hash of its key. The inbox
  *    is moved out in the same swap, so after it the table is hashed
  *    buckets only. The swap refuses a staged bucket set other than the
  *    one whose survivors were read. The merged buckets are written
  *    clustered by bucket, so each becomes one file (more only past
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`); an
  *    unclustered write would leave one small file per (task, bucket)
  *    pair for every later upsert to re-read.
  * A delta with other columns is never appended: the table's schema is
  * read from one footer, so a file of another shape would be misread;
  * it takes the fold, whose union refuses it.
  *
  * Durability design (no ACID table format available, so the commit
  * protocol is explicit): nothing live is mutated before a manifest in
  * `<table>_graft_backup` records what the commit will change, and
  * deleting that manifest — a single-file delete — is the commit point.
  * There are two kinds:
  *  - `_MANIFEST` (fold): the bucket dirs swapped. Merged buckets are
  *    first written COMPLETELY to a staging directory (the live table is
  *    only read at that point), then swapped in per bucket via
  *    metadata-only renames, with the old bucket dirs (and the inbox)
  *    preserved in the backup directory.
  *  - `_APPENDED` (append): the file names renamed into the inbox.
  * A crash at ANY point leaves every pre-upsert row recoverable: the
  * next `upsert`/`read` call rolls an interrupted commit back to the
  * pre-upsert state (restores the backed-up dirs, drops new buckets,
  * deletes the appended files) and drops a leftover delta. A manifest
  * that is gone at the commit point means something rolled the upsert
  * back under it: the upsert throws instead of reporting success. The
  * delta and staging copies are files, not `persist`/`localCheckpoint`
  * blocks, so executor loss mid-write cannot destroy untouched rows.
  *
  * Listing design: every read of the table (`read`, the upsert's scan)
  * lists it on the driver, one `listStatus` per directory, and
  * hands the listing to Spark's `InMemoryFileIndex`. Spark's own
  * listing would start a Spark job with one task per bucket directory
  * on every read once a table has more directories than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32); for
  * a small delivery those jobs cost more than the rows. The relation
  * is the one `spark.read.parquet` builds: same files, schema,
  * `_bucket` partition pruning and root path.
  *
  * Layout contract: one file per hashed bucket `_bucket=0 ..
  * numBuckets-1`, and at most [[MaxInboxFiles]] files in the inbox
  * `_bucket=-1`, whose rows are in no particular bucket. A key has one
  * row (or row set) in the whole table, in its hashed bucket or in the
  * inbox. The bucket count is fixed at first publish and recorded in a
  * hidden `_NUM_BUCKETS` marker in the table root (Spark's file listing
  * skips `_`-prefixed names). An upsert with a different count is
  * refused: its updated keys would hash to new buckets while their old
  * rows survived in the old ones. A table published without the marker
  * adopts the first upserting caller's count.
  *
  * Concurrency contract: SINGLE WRITER (matching the reference's one
  * batch job per index), and no reader while it writes. Two concurrent
  * upserts to the same path would race on the delta/staging/backup
  * directories; serialize writers or give each its own table. `read`
  * first rolls back any interrupted commit, so a read that overlaps a
  * live upsert rolls that upsert back (which then throws at its commit
  * point, or fails a rename): run readers between upserts.
  */
object KeyedUpsert {

  val BucketCol = "_bucket"
  /** The inbox partition's `_bucket`, outside the hash range. */
  val InboxBucket: Int = -1
  /** Most files the inbox may hold; an upsert that would leave more
    * folds instead. Every inbox file is opened by every read and every
    * overlap check, whatever keys they ask for (the inbox is never
    * pruned by bucket), and a fold rewrites every bucket an inbox key
    * hashes to. 8 keeps the inbox at an eighth of the files of a table
    * at the default 64 buckets, while one fold is spread over up to 8
    * appends. */
  val MaxInboxFiles = 8
  private val Inbox = s"$BucketCol=$InboxBucket"
  private val DeltaDir = "_graft_delta"
  private val StageDir = "_graft_stage"
  private val BackupDir = "_graft_backup"
  private val Manifest = "_MANIFEST"
  private val Appended = "_APPENDED"
  private val NumBuckets = "_NUM_BUCKETS"

  private def bucketOf(keyCol: String, numBuckets: Int): Column =
    pmod(hash(col(keyCol)), lit(numBuckets))

  private def bucketed(df: DataFrame, keyCol: String, numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, bucketOf(keyCol, numBuckets))

  private def inBuckets(buckets: Seq[Int]): Column =
    col(BucketCol).isin(buckets.map(Integer.valueOf): _*)

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

  /** The files under `dir` (not recursive) that Spark's listing keeps. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => GraftSqlBridge.hiddenFileName(p.getName))

  /** Upsert `updates` (one row per key) into the keyed table at `path`.
    * Whole-row replace per key, matching the reference's per-person
    * array replacement semantics. `updates` is evaluated once; an
    * empty `updates` leaves an existing table unchanged. A change
    * refreshes Spark's cache by path (else a cached earlier read answers
    * later reads with the old rows; nothing cached, no job). Throws
    * IllegalArgumentException if the table was published with a
    * different `numBuckets`, and IllegalStateException if a reader or
    * writer running alongside rolled this upsert back.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keyCol: String, numBuckets: Int = 64): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val root = new Path(path)
    val fs = fsOf(spark, path)
    recover(fs, root) // roll back any interrupted previous commit first
    val stage = sibling(root, StageDir)

    if (!fs.exists(root)) {
      // First write: stage fully, then publish with one rename.
      writeClustered(bucketed(updates, keyCol, numBuckets), stage)
      writeText(fs, new Path(stage, NumBuckets), numBuckets.toString)
      if (!fs.rename(stage, root))
        throw new java.io.IOException(s"failed to publish $stage -> $root")
      spark.catalog.refreshByPath(path)
      return
    }
    checkNumBuckets(fs, root, numBuckets)

    // The one evaluation of `updates`, observing its bucket set.
    // Unpartitioned and without `_bucket`: a handful of files an append
    // can move into the inbox as they are.
    val deltaDir = sibling(root, DeltaDir)
    val observed = new Observation()
    updates.observe(observed,
        collect_set(bucketOf(keyCol, numBuckets)).as("touched"))
      .write.mode(SaveMode.Overwrite).parquet(deltaDir.toString)
    val touched = ints(observed.get("touched"))
    if (touched.nonEmpty) {
      val delta = spark.read.schema(updates.schema).parquet(deltaDir.toString)
      // Reads the live table; it is not modified until a commit below.
      val table = scan(spark, path)
      val hit = "_graft_hit"
      val probe = table.filter(inBuckets(touched :+ InboxBucket))
        .select(col(keyCol), col(BucketCol))
        .join(delta.select(col(keyCol).as(hit)), col(keyCol) === col(hit), "left")
        .agg(count(col(hit)), collect_set(
          when(col(BucketCol) === InboxBucket, bucketOf(keyCol, numBuckets))))
        .head()
      val inbox = new Path(root, Inbox)
      val added = dataFiles(fs, deltaDir)
      val sameColumns = GraftSqlBridge.asNullable(updates.schema) ==
        StructType(table.schema.filterNot(_.name == BucketCol))
      if (probe.getLong(0) == 0L && sameColumns && added.nonEmpty &&
          dataFiles(fs, inbox).size + added.size <= MaxInboxFiles)
        append(fs, root, added)
      else {
        val rewrite = (touched ++ ints(probe.get(1))).distinct.sorted
        val survivors = table.filter(inBuckets(rewrite :+ InboxBucket))
          .drop(BucketCol)
          .join(delta.select(col(keyCol)), Seq(keyCol), "left_anti")
        writeClustered(
          bucketed(survivors.unionByName(delta), keyCol, numBuckets), stage)
        swap(fs, root, stage, rewrite.toSet, fs.exists(inbox))
      }
      spark.catalog.refreshByPath(path)
    }
    fs.delete(deltaDir, true)
  }

  private def ints(set: Any): Seq[Int] =
    set.asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted

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

  /** Move the delta's files into the inbox, under an `_APPENDED`
    * manifest naming them. A name already in the inbox is refused
    * first: rolling back would delete that file. */
  private def append(fs: FileSystem, root: Path, files: Seq[Path]): Unit = {
    val inbox = new Path(root, Inbox)
    files.map(f => new Path(inbox, f.getName)).find(fs.exists).foreach { p =>
      throw new IllegalStateException(s"$p already exists; not appended")
    }
    underManifest(fs, root, Appended, files.map(_.getName)) {
      fs.mkdirs(inbox)
      files.foreach { f =>
        if (!fs.rename(f, new Path(inbox, f.getName)))
          throw new java.io.IOException(s"failed to move $f into $inbox")
      }
    }
  }

  /** Swap staged buckets into the live table, and move the inbox out
    * when `inbox`, under a `_MANIFEST` naming the dirs. A staged bucket
    * set other than `rewrite` (the buckets whose survivors were read)
    * would replace a bucket whose survivors were never read, or drop
    * inbox rows: refused before the manifest, so the live table is
    * never touched. */
  private def swap(fs: FileSystem, root: Path, stage: Path,
                   rewrite: Set[Int], inbox: Boolean): Unit = {
    val stagedBuckets = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.startsWith(BucketCol + "="))
    val staged = stagedBuckets.map(_.getName.stripPrefix(BucketCol + "=").toInt)
    if (staged.toSet != rewrite) throw new IllegalStateException(
      s"staged buckets ${staged.sorted.mkString(",")} under $stage, not the " +
        s"buckets ${rewrite.toSeq.sorted.mkString(",")} whose rows were read; " +
        "not swapped")
    val backup = sibling(root, BackupDir)
    underManifest(fs, root, Manifest,
        stagedBuckets.map(_.getName).toSeq ++ (if (inbox) Seq(Inbox) else Nil)) {
      if (inbox && !fs.rename(new Path(root, Inbox), new Path(backup, Inbox)))
        throw new java.io.IOException(s"failed to move out ${new Path(root, Inbox)}")
      stagedBuckets.foreach { staged =>
        val live = new Path(root, staged.getName)
        if (fs.exists(live) &&
            !fs.rename(live, new Path(backup, staged.getName)))
          throw new java.io.IOException(s"failed to back up $live")
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"failed to swap in $staged")
      }
    }
    fs.delete(stage, true)
  }

  /** Run `moves` under the manifest `name` in the backup dir, written
    * first with `entries`, so an interruption anywhere in `moves` is
    * rolled back by recover(). COMMIT POINT: deleting the manifest — a
    * single-file delete — makes the moves final. A manifest that is
    * already gone means a `read` or upsert ran recover() under this
    * upsert and rolled it back: fail loudly, not report an update that
    * is lost. The delete MUST go before the recursive backup delete: a
    * crash midway through deleting the backup dir would otherwise leave
    * the manifest alongside a PARTIAL backup, and recovery would "roll
    * back" committed buckets whose backups are already gone —
    * destroying them. */
  private def underManifest(fs: FileSystem, root: Path, name: String,
                            entries: Seq[String])(moves: => Unit): Unit = {
    val backup = sibling(root, BackupDir)
    val manifest = new Path(backup, name)
    fs.mkdirs(backup)
    writeText(fs, manifest, entries.mkString("\n"))
    moves
    if (!fs.delete(manifest, false)) throw new IllegalStateException(
      s"commit manifest $manifest was gone at the commit point: a read or " +
        "upsert of the table ran alongside this upsert and rolled it back. " +
        "Re-run the upsert with no reader or writer of the table alongside.")
    fs.delete(backup, true)
  }

  /** Roll back an interrupted commit, then clear staging and the delta.
    * A manifest's existence is the authority: it is written before the
    * first rename and deleted (single-file, effectively atomic) only at
    * commit.
    *  - `_MANIFEST`: restore every listed dir from backup (or drop it,
    *    if it was newly created by the interrupted run). When the
    *    manifest is present the backup is complete for every dir already
    *    moved out; the inbox is only ever moved out, never staged, so
    *    without a backup it is still live and untouched.
    *  - `_APPENDED`: delete every listed file from the inbox, and the
    *    inbox dir if that empties it.
    * Idempotent — safe to call any number of times, including after a
    * crash mid-recovery. */
  private def recover(fs: FileSystem, root: Path): Unit = {
    val backup = sibling(root, BackupDir)
    val stage = sibling(root, StageDir)
    val manifest = new Path(backup, Manifest)
    if (fs.exists(manifest)) {
      lines(fs, manifest).foreach { name =>
        val live = new Path(root, name)
        val saved = new Path(backup, name)
        if (fs.exists(saved)) {          // pre-existing dir: restore
          if (fs.exists(live)) fs.delete(live, true)
          if (!fs.rename(saved, live))
            throw new java.io.IOException(s"failed to restore $saved")
        } else if (name != Inbox && fs.exists(stage) &&
                   !fs.exists(new Path(stage, name))) {
          // bucket was new in the interrupted run and already moved
          // out of staging — it did not exist before; drop it
          if (fs.exists(live)) fs.delete(live, true)
        }
      }
    }
    val appended = new Path(backup, Appended)
    if (fs.exists(appended)) {
      val inbox = new Path(root, Inbox)
      lines(fs, appended).foreach(n => fs.delete(new Path(inbox, n), false))
      if (fs.exists(inbox) && fs.listStatus(inbox).isEmpty) fs.delete(inbox, true)
    }
    Seq(backup, stage, sibling(root, DeltaDir))
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  private def lines(fs: FileSystem, p: Path): Seq[String] =
    readText(fs, p).split("\n").toSeq.filter(_.nonEmpty)

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
    * rolling back any interrupted commit first. The same rows, schema and
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
