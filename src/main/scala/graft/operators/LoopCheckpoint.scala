package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Eager lineage cut for LOOP-CARRIED frames in iterative operators
  * (components, PageRank, BFS, k-core, k-means).
  *
  * Plain `localCheckpoint` truncates lineage but — since SPARK-39748 —
  * PRESERVES the origin plan's Statistics on the resulting LogicalRDD.
  * When the checkpointed frame feeds the next round's join tree, the
  * carried sizeInBytes is re-multiplied every round and carried again:
  * its bit length grows geometrically with the round count, and after
  * ~10 rounds the driver hangs multiplying million-bit BigIntegers
  * inside stats estimation (observed on the sf1 sweep:
  * ConnectedComponents pinned in BigInteger.multiply for 30+ minutes).
  * One-shot checkpoints are immune — only loop-carried ones compound;
  * they go through [[CheckpointScope.pin]].
  *
  * This wrapper drops the carried stats (keeping the checkpointed RDD,
  * partitioning, and ordering — zero data movement), so every round
  * plans against the same bounded default estimate.
  *
  * Durability: `localCheckpoint` stores blocks on executor-local
  * storage, NON-replicated — the right call single-JVM (local[32]:
  * executor death is driver death), but on a real cluster ONE lost
  * executor invalidates the cut lineage and kills the whole iterative
  * job, hours in. Cluster deploys set
  * `spark.graft.checkpoint.reliable=true` to route every loop cut
  * through a reliable `checkpoint()` into fault-tolerant storage
  * (HDFS/S3): the checkpoint dir comes from the SparkContext if
  * already set, else from `spark.graft.checkpoint.dir`. Reliable cuts
  * cost one compute + a write + a read of the loop frame per round
  * (the frame is persisted around the eager checkpoint so the
  * ReliableCheckpointRDD write job reads cached blocks instead of
  * recomputing the whole lineage — the documented Spark idiom — and
  * unpersisted right after the write lands). Checkpoint dirs
  * accumulate one per round unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set —
  * see docs/DEPLOY.md. Pay all this when an executor loss mid-loop
  * costs more. */
private[graft] object LoopCheckpoint {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    val pinned =
      if (!reliable) df.localCheckpoint(true)
      else {
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption("spark.graft.checkpoint.dir")
            .getOrElse(throw new IllegalStateException(
              "spark.graft.checkpoint.reliable=true needs a checkpoint " +
                "dir: call sparkContext.setCheckpointDir or set " +
                "spark.graft.checkpoint.dir to fault-tolerant storage"))
          sc.setCheckpointDir(dir)
        }
        // persist → eager checkpoint → unpersist: without the persist,
        // the ReliableCheckpointRDD write runs as a SEPARATE job that
        // recomputes the whole lineage (each round would pay compute
        // twice plus the write); with it, the write job reads cached
        // blocks and the cache is dropped as soon as the checkpoint
        // files are durable
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try p.checkpoint(true) finally p.unpersist(false)
      }
    val out = GraftSqlBridge.dropCarriedStats(pinned)
    CheckpointScope.register(out)
    out
  }

  /** Rolling cut for LOOP-CARRIED state: checkpoints the new round,
    * then immediately releases the PREVIOUS round's blocks — dead the
    * moment the new eager cut is durable, because the loop variable
    * was their only consumer (GraphX Pregel's unpersist discipline,
    * for DataFrame loops). Without this, every round of every
    * iterative operator in a session squats in block-manager storage
    * until a driver GC lets the ContextCleaner notice — the pile-up
    * that OOM'd the round-12 single-JVM sf100 sweep
    * ([[CheckpointScope]]). Runs even inside a retained session-cache
    * build: a cached artifact needs its FINAL round only.
    *
    * NOT for loops whose RESULT references every round (BFS's dist
    * union of per-hop frontiers, RandomWalk's walk-corpus union) —
    * those frames stay live until the consuming query finishes and
    * are the enclosing [[CheckpointScope]]'s to release. */
  final class Rolling {
    private var prev: Option[DataFrame] = None
    def next(df: DataFrame): DataFrame = {
      val pinned = LoopCheckpoint(df)
      prev.foreach(CheckpointScope.release)
      prev = Some(pinned)
      pinned
    }
  }
}
