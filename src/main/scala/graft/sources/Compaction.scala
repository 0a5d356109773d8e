package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-files compaction — the table-maintenance operator every
  * long-running ingestion needs: streaming/incremental writers leave
  * thousands of KB-sized parquet files per directory, and at 100 TB
  * the resulting task-per-file scheduling and footer-read overhead
  * dominates scan time long before I/O does.
  *
  * Strategy: measure actual on-disk bytes, rewrite to
  * ceil(bytes / targetBytes) files via a round-robin repartition
  * (size-balanced regardless of key skew), and publish the rewritten
  * directory whole ([[Commit.publish]]): a reader sees the whole previous
  * file set or the whole compacted one, and the next `compact` rolls an
  * interrupted one back first. Single writer, and no reader during a
  * compaction.
  */
object Compaction {

  /** Compact the parquet directory at `path` toward `targetBytes` per
    * output file. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val root = new Path(path)
    val fs = Commit.fsOf(spark, path)
    Commit.recover(fs, root)
    val parts = fs.listStatus(root)
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (parts.length <= nOut) return (parts.length, parts.length)
    Commit.rebuild(spark, path)(spark.read.parquet(path)
      .repartition(nOut) // round-robin: size-balanced, skew-immune
      .write.mode(SaveMode.Overwrite).parquet(_))
    val after = fs.listStatus(root)
      .count(f => f.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }
}
