package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash enumeration over [[TrapFs]]: run an operation once per crash
  * point, just before and just after each rename it makes, so a spec
  * can check the state a crash leaves at every point of a commit. */
object CrashPoints {

  /** A fresh, not yet existing directory `name` under the `trap:`
    * scheme. */
  def trapPath(spark: SparkSession, tag: String, name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.trap.impl", classOf[TrapFs].getName)
    "trap://" + Files.createTempDirectory(tag).toString + "/" + name
  }

  /** Run `op` once per crash point until a run passes them all: crash
    * point 2k is just before its k-th rename (0-based), 2k + 1 just
    * after it, so every state between two renames is reached. `check`
    * runs after every run, the crashed ones and the last. Returns the
    * number of crash points covered. An `op` that fails without the
    * trap firing fails the caller. */
  def everyRename(op: => Unit)(check: => Unit): Int = {
    var n = 0
    var crashed = true
    while (crashed) {
      val (at, after) = (n / 2, n % 2 == 1)
      val seen = new AtomicInteger
      val fired = new AtomicBoolean
      def crash(): Unit = {
        fired.set(true)
        throw new java.io.IOException(s"injected crash at crash point $n")
      }
      TrapFs.before = (_, _) => if (!after && seen.get == at) crash()
      TrapFs.after = (_, _) => if (seen.getAndIncrement() == at && after) crash()
      try op catch { case _: Exception if fired.get => } finally TrapFs.reset()
      check
      crashed = fired.get
      if (crashed) n += 1
    }
    n
  }

  /** The `<root>_graft_*` siblings left beside `path`. */
  def leftovers(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root.getParent).map(_.getPath.getName)
      .filter(_.startsWith(root.getName + "_graft_")).toSeq
  }

  /** Run `body` with one shuffle partition, so every write stage is one
    * task: a crash then stops the whole writer, as a dead process would,
    * instead of leaving sibling tasks writing while the spec recovers
    * and reads. */
  def oneWriter[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
