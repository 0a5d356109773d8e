package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.KeyedUpsert

/** The local file system under the `trap:` scheme, running
  * [[TrapFs.before]] and [[TrapFs.after]] around every rename, so a
  * spec can crash an upsert, or read the table, at an exact point of
  * its commit. */
class TrapFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("trap:///")
  override def getScheme: String = "trap"
}) {
  override def getScheme: String = "trap"
  override def rename(src: Path, dst: Path): Boolean = {
    TrapFs.before(src, dst)
    val ok = super.rename(src, dst)
    if (ok) TrapFs.after(src, dst)
    ok
  }
}

object TrapFs {
  @volatile var before: (Path, Path) => Unit = (_, _) => ()
  @volatile var after: (Path, Path) => Unit = (_, _) => ()
  def reset(): Unit = { before = (_, _) => (); after = (_, _) => () }
}

/** The inbox partition: an insert-only upsert moves its delta into
  * `_bucket=-1` and leaves every other file as it was; every other
  * upsert folds the inbox back into the hashed buckets. */
class KeyedUpsertInboxSpec extends SparkSpec {
  import spark.implicits._

  private val Inbox = s"${KeyedUpsert.BucketCol}=${KeyedUpsert.InboxBucket}"
  private val K = KeyedUpsert.MaxInboxFiles

  spark.sparkContext.hadoopConfiguration.set("fs.trap.impl", classOf[TrapFs].getName)

  private def fsFor(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def table(name: String, scheme: String = "file"): String =
    s"$scheme://" + Files.createTempDirectory(name).toString + "/t"

  private def kv(keys: Seq[Long], v: String): DataFrame =
    keys.map(k => (k, v)).toDF("k", "v")

  /** every file under the table, relative path -> length */
  private def files(path: String): Map[String, Long] = {
    val fs = fsFor(path)
    val root = fs.makeQualified(new Path(path))
    def walk(d: Path): Seq[(String, Long)] = fs.listStatus(d).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else Seq(s.getPath.toString.stripPrefix(root.toString + "/") -> s.getLen)
    }
    walk(root).toMap
  }

  private def inboxFiles(path: String): Seq[String] =
    files(path).keys.filter(_.startsWith(Inbox + "/"))
      .filter(_.endsWith(".parquet")).toSeq

  /** hashed bucket dir -> its parquet files */
  private def hashedBuckets(path: String): Map[String, Seq[String]] =
    files(path).keys.filter(f => f.endsWith(".parquet") && !f.startsWith(Inbox + "/"))
      .toSeq.groupBy(_.takeWhile(_ != '/'))

  private def leftovers(path: String): Seq[String] = {
    val root = new Path(path)
    fsFor(path).listStatus(root.getParent).map(_.getPath.getName)
      .filter(_.startsWith(root.getName + "_graft_")).toSeq
  }

  /** the table's rows; fails on a key held twice */
  private def rows(path: String): Map[Long, String] = {
    val got = KeyedUpsert.read(spark, path).as[(Long, String)].collect().toSeq
    assert(got.map(_._1).distinct.size == got.size,
      s"duplicate keys: ${got.groupBy(_._1).filter(_._2.size > 1).keys}")
    got.toMap
  }

  test("an insert-only upsert moves its delta into the inbox and touches no other file") {
    val path = table("inbox_append")
    KeyedUpsert.upsert(spark, path, kv(0L until 200L, "old"), "k", 64)
    val before = files(path)
    KeyedUpsert.upsert(spark, path, kv(1000L until 1200L, "new").coalesce(1), "k", 64)
    val after = files(path)
    assert(before.forall { case (f, len) => after.get(f).contains(len) },
      "a pre-existing file changed or went away")
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.startsWith(Inbox + "/")), added)
    assert(inboxFiles(path).size == 1, inboxFiles(path))
    assert(rows(path) == ((0L until 200L).map(_ -> "old") ++
      (1000L until 1200L).map(_ -> "new")).toMap)
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("after K appends the next upsert folds the inbox into one file per bucket") {
    val path = table("inbox_fold")
    KeyedUpsert.upsert(spark, path, kv(0L until 100L, "v0"), "k", 8)
    var want = (0L until 100L).map(_ -> "v0").toMap
    (1 to K).foreach { i =>
      val keys = (1000L * i) until (1000L * i + 10)
      KeyedUpsert.upsert(spark, path, kv(keys, s"v$i").coalesce(1), "k", 8)
      want ++= keys.map(_ -> s"v$i")
      assert(inboxFiles(path).size == i, s"after append $i: ${inboxFiles(path)}")
    }
    val last = 99000L until 99010L
    KeyedUpsert.upsert(spark, path, kv(last, "last").coalesce(1), "k", 8)
    want ++= last.map(_ -> "last")
    assert(!files(path).keys.exists(_.startsWith(Inbox)), files(path).keys)
    val buckets = hashedBuckets(path)
    assert(buckets.size == 8 && buckets.values.forall(_.size == 1), buckets)
    assert(rows(path) == want)
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("a seeded upsert sequence matches a Map reference") {
    val path = table("inbox_random")
    val rng = new scala.util.Random(20261019)
    KeyedUpsert.upsert(spark, path, kv(0L until 60L, "v0"), "k", 8)
    var want = (0L until 60L).map(_ -> "v0").toMap
    var fresh = 1000L
    var appends = 0
    var inboxFolds = 0
    def newKeys(n: Int): Seq[Long] = { val ks = fresh until fresh + n; fresh += n; ks }
    def inboxKeys(): Seq[Long] =
      if (inboxFiles(path).isEmpty) Nil
      else spark.read.parquet(path)
        .filter(col(KeyedUpsert.BucketCol) === KeyedUpsert.InboxBucket)
        .select("k").as[Long].collect().toSeq
    (1 to 20).foreach { round =>
      val inInbox = inboxKeys()
      val keys = rng.nextInt(4) match {
        case 0 => newKeys(1 + rng.nextInt(12))                     // insert-only
        case 1 => rng.shuffle(want.keys.toSeq).take(1 + rng.nextInt(6)) ++
          newKeys(rng.nextInt(4))                                  // overlapping
        case 2 => Nil                                              // empty
        case _ =>                                                  // inbox keys
          (if (inInbox.nonEmpty) rng.shuffle(inInbox).take(1 + rng.nextInt(3))
           else Nil) ++ newKeys(1)
      }
      val before = files(path)
      KeyedUpsert.upsert(spark, path,
        kv(keys, s"r$round").repartition(1 + rng.nextInt(2)), "k", 8)
      want ++= keys.map(_ -> s"r$round")
      assert(rows(path) == want, s"round $round")
      val after = files(path)
      if (inboxFiles(path).nonEmpty && before.forall { case (f, l) => after.get(f).contains(l) } &&
          after.size > before.size) appends += 1
      if (inInbox.nonEmpty && inboxFiles(path).isEmpty) inboxFolds += 1
    }
    assert(appends > 0 && inboxFolds > 0, s"appends $appends, inbox folds $inboxFolds")
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("a nondeterministic updates frame is evaluated once on the append path") {
    val path = table("inbox_once")
    val n = 200
    KeyedUpsert.upsert(spark, path, kv(0L until n.toLong, "old"), "k", 64)
    val before = files(path)
    val evals = spark.sparkContext.longAccumulator("append_evals")
    val pick = udf { (k: Long) =>
      evals.add(1)
      java.util.concurrent.ThreadLocalRandom.current().nextDouble() < 0.05
    }.asNondeterministic()
    val updates = spark.range(n, 2L * n).toDF("k").filter(pick($"k"))
      .withColumn("v", lit("new"))
    KeyedUpsert.upsert(spark, path, updates, "k", 64)
    assert(evals.value == n)
    val got = rows(path)
    val added = got.filter(_._2 == "new").keySet
    assert(got.keySet == (0L until n.toLong).toSet ++ added)
    assert(added.forall(k => k >= n && k < 2L * n))
    if (added.nonEmpty) assert(inboxFiles(path).nonEmpty)
    assert(before.forall { case (f, len) => files(path).get(f).contains(len) })
  }

  test("a delta with other columns than the table's is never appended") {
    val path = table("inbox_schema")
    KeyedUpsert.upsert(spark, path, kv(0L until 50L, "a"), "k", 8)
    val before = rows(path)
    // an extra column: the fold's union refuses it, as every upsert did
    intercept[AnalysisException] {
      KeyedUpsert.upsert(spark, path,
        Seq((500L, "b", 1)).toDF("k", "v", "extra"), "k", 8)
    }
    assert(rows(path) == before)
    assert(!files(path).keys.exists(_.startsWith(Inbox)))
    assert(leftovers(path).isEmpty, leftovers(path))
    // the same columns in another order: folded by name, not appended
    KeyedUpsert.upsert(spark, path, Seq(("c", 501L)).toDF("v", "k"), "k", 8)
    assert(!files(path).keys.exists(_.startsWith(Inbox)))
    assert(rows(path) == before + (501L -> "c"))
  }

  private def intoInbox(src: Path, dst: Path) =
    src.getParent.getName.endsWith("_graft_delta") && dst.getParent.getName == Inbox

  test("a crash during an append rolls back to the pre-upsert rows") {
    Seq(0, 1).foreach { crashAt =>
      val path = table(s"inbox_crash$crashAt", "trap")
      KeyedUpsert.upsert(spark, path, kv(0L until 40L, "old"), "k", 8)
      KeyedUpsert.upsert(spark, path, kv(100L until 110L, "in").coalesce(1), "k", 8)
      val before = rows(path)
      val kept = files(path)
      var moved = 0
      TrapFs.before = (src, dst) => if (intoInbox(src, dst)) {
        if (moved == crashAt) throw new java.io.IOException("injected crash")
        moved += 1
      }
      try intercept[java.io.IOException] {
        KeyedUpsert.upsert(spark, path, kv(200L until 230L, "lost").repartition(3), "k", 8)
      } finally TrapFs.reset()
      assert(moved == crashAt)
      assert(fsFor(path).exists(new Path(path + "_graft_backup/_APPENDED")))
      assert(rows(path) == before, s"crash after $crashAt renames")
      assert(files(path) == kept, s"crash after $crashAt renames left an orphan file")
      assert(leftovers(path).isEmpty, leftovers(path))
    }
  }

  test("a crash during a fold rolls the buckets and the inbox back") {
    // crash points: before the inbox moves out, before the first bucket
    // swap, and after half of the bucket swaps
    Seq(0, 1, 3).foreach { crashAt =>
      val path = table(s"inbox_foldcrash$crashAt", "trap")
      KeyedUpsert.upsert(spark, path, kv(0L until 40L, "old"), "k", 4)
      KeyedUpsert.upsert(spark, path, kv(100L until 110L, "in").coalesce(1), "k", 4)
      val before = rows(path)
      val kept = files(path)
      var renames = 0
      TrapFs.before = (src, _) =>
        if (src.getName == Inbox || src.getParent.getName.endsWith("_graft_stage")) {
          if (renames == crashAt) throw new java.io.IOException("injected crash")
          renames += 1
        }
      try intercept[java.io.IOException] {
        KeyedUpsert.upsert(spark, path, kv(Seq(1L, 2L, 3L, 4L, 5L, 105L), "lost"), "k", 4)
      } finally TrapFs.reset()
      assert(renames == crashAt)
      assert(rows(path) == before, s"crash after $crashAt renames")
      assert(files(path) == kept, s"crash after $crashAt renames")
      assert(leftovers(path).isEmpty, leftovers(path))
    }
  }

  test("an upsert whose manifest a concurrent read removed throws instead of committing") {
    // fold: a read right after the last staged bucket is swapped in
    val path = table("inbox_commit_fold", "trap")
    KeyedUpsert.upsert(spark, path, kv(0L until 40L, "old"), "k", 4)
    KeyedUpsert.upsert(spark, path, kv(100L until 105L, "in").coalesce(1), "k", 4)
    val before = rows(path)
    val fs = fsFor(path)
    TrapFs.after = (src, _) =>
      if (src.getParent.getName.endsWith("_graft_stage") &&
          !fs.listStatus(src.getParent).exists(_.getPath.getName.startsWith("_bucket="))) {
        TrapFs.reset()
        KeyedUpsert.read(spark, path)
      }
    val e = try intercept[IllegalStateException] {
      KeyedUpsert.upsert(spark, path, kv(Seq(1L, 2L, 3L, 102L), "upd"), "k", 4)
    } finally TrapFs.reset()
    assert(e.getMessage.contains("Re-run the upsert"), e.getMessage)
    assert(rows(path) == before)
    assert(leftovers(path).isEmpty, leftovers(path))

    // append: a read right after the delta's last file is moved in
    val inboxBefore = inboxFiles(path)
    TrapFs.after = (src, dst) =>
      if (intoInbox(src, dst) && !fs.listStatus(src.getParent)
            .exists(_.getPath.getName.endsWith(".parquet"))) {
        TrapFs.reset()
        KeyedUpsert.read(spark, path)
      }
    val e2 = try intercept[IllegalStateException] {
      KeyedUpsert.upsert(spark, path, kv(300L until 310L, "new").coalesce(1), "k", 4)
    } finally TrapFs.reset()
    assert(e2.getMessage.contains("Re-run the upsert"), e2.getMessage)
    assert(rows(path) == before)
    assert(inboxFiles(path) == inboxBefore)
    // re-running it commits
    KeyedUpsert.upsert(spark, path, kv(300L until 310L, "new").coalesce(1), "k", 4)
    assert(rows(path) == before ++ (300L until 310L).map(_ -> "new"))
  }
}
