package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every persisted store: [[KeyedUpsert]],
  * [[DedupIndex]], [[ImpactIndex]] and [[Compaction]].
  *
  * Durability design (no ACID table format, so the protocol is
  * explicit): new data is first written COMPLETELY to the sibling
  * `<root>_graft_stage`. Nothing live is mutated before a manifest in
  * the sibling `<root>_graft_backup` records what the commit changes;
  * metadata-only renames then move staged data in and what it replaces
  * out to the backup dir, and deleting the manifest — a single-file
  * delete — is the commit point. A crash at ANY point leaves the
  * previous state recoverable: the store's next write or read rolls it
  * back. A manifest gone at the commit point means something rolled the
  * commit back under it: the writer throws instead of reporting
  * success. Staged and backed-up copies are files, not
  * `persist`/`localCheckpoint` blocks, so executor loss mid-write
  * cannot destroy live data.
  *
  * Concurrency contract: SINGLE WRITER per store, and no reader while
  * it writes. Concurrent writers race on the siblings; a reader rolls
  * back any interrupted commit, so one overlapping a live commit rolls
  * it back (the writer then throws at its commit point, or fails a
  * rename): run readers between writes.
  */
private[sources] object Commit {

  private val Published = "_PUBLISHED" // publish's manifest
  private val Prior = "_PRIOR" // what the replaced directory waits as

  def sibling(root: Path, suffix: String): Path =
    new Path(root.getParent, root.getName + suffix)
  def stageOf(root: Path): Path = sibling(root, "_graft_stage")
  def backupOf(root: Path): Path = sibling(root, "_graft_backup")

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def move(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"failed to move $src -> $dst")

  /** Publish the complete directory `stage` as `root`, so a reader sees
    * the whole previous directory or the whole new one: one rename if
    * `root` is new, else under a manifest that backs `root` up and
    * renames `stage` in. Then refreshes Spark's cache by path. */
  def publish(spark: SparkSession, root: Path, stage: Path): Unit = {
    val fs = fsOf(spark, root.toString)
    if (!fs.exists(root)) move(fs, stage, root)
    else underManifest(fs, root, Published, Nil, "rebuild") {
      move(fs, root, new Path(backupOf(root), Prior))
      move(fs, stage, root)
    }
    spark.catalog.refreshByPath(root.toString)
  }

  /** Roll back any interrupted commit at `path`, have `write` fill the
    * stage dir it is given with the store's new contents, and publish it. */
  def rebuild(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val root = new Path(path)
    recover(fsOf(spark, path), root)
    write(stageOf(root).toString)
    publish(spark, root, stageOf(root))
  }

  /** `<path>/<part>`, after rolling back any interrupted publish. */
  def read(spark: SparkSession, path: String, part: String): DataFrame = {
    recover(fsOf(spark, path), new Path(path))
    spark.read.parquet(s"$path/$part")
  }

  /** Run `moves` under the manifest `name` in the backup dir, written
    * first with `entries`; deleting it is the commit point of this `op`.
    * It MUST go before the recursive backup delete: a crash midway
    * through that would leave the manifest beside a PARTIAL backup, and
    * recovery would "roll back" committed entries whose backups are gone. */
  def underManifest(fs: FileSystem, root: Path, name: String,
                    entries: Seq[String], op: String)(moves: => Unit): Unit = {
    val backup = backupOf(root)
    val manifest = new Path(backup, name)
    fs.mkdirs(backup)
    writeText(fs, manifest, entries.mkString("\n"))
    moves
    if (!fs.delete(manifest, false)) throw new IllegalStateException(
      s"commit manifest $manifest was gone at the commit point: a read or " +
        s"write of $root ran alongside this $op and rolled it back. " +
        s"Re-run the $op with no reader or writer of $root alongside.")
    fs.delete(backup, true)
  }

  /** The entries of manifest `name`, if an interrupted commit left it. */
  def pending(fs: FileSystem, root: Path, name: String): Option[Seq[String]] = {
    val manifest = new Path(backupOf(root), name)
    if (!fs.exists(manifest)) None
    else Some(readText(fs, manifest).split("\n").toSeq.filter(_.nonEmpty))
  }

  /** Put the backed-up `name` back as `live`, replacing whatever the
    * interrupted commit moved there; false if it was never backed up. */
  def restore(fs: FileSystem, root: Path, name: String, live: Path): Boolean = {
    val saved = new Path(backupOf(root), name)
    val found = fs.exists(saved)
    if (found) { if (fs.exists(live)) fs.delete(live, true); move(fs, saved, live) }
    found
  }

  /** Roll back an interrupted [[publish]], then delete the backup, the
    * stage and the store's `scratch` siblings (a store with manifests of
    * its own restores them first). Idempotent — safe to call any number
    * of times, including after a crash mid-recovery. */
  def recover(fs: FileSystem, root: Path, scratch: Path*): Unit = {
    if (pending(fs, root, Published).isDefined) restore(fs, root, Prior, root)
    (Seq(backupOf(root), stageOf(root)) ++ scratch)
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
}
