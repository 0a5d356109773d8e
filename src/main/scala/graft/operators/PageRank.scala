package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact PageRank: the random-walk-with-teleport iteration in
  * micro-units (start 1,000,000 per node; teleport 0.15, damping 0.85)
  * with every per-edge contribution an INTEGER division —
  * `(pr·850) div (1000·outdeg)` — so sums are order- and
  * partition-independent and a SQL oracle can unroll the fixed
  * iteration count into exact CTE stages (same recipe as
  * [[graft.functions.Similarity.kmeansModel]]; docs/SEMANTICS.md).
  * Dangling-node mass is dropped (the standard simplification); the
  * truncation bias of the integer division is bounded by outdeg per
  * node per round — this is a RANKING signal, not a probability.
  *
  * Scale shape: per iteration one join of edges (pre-partitioned by
  * source once) against the pr vector and one aggregation by target —
  * both keyed shuffles of the edge/node sets, no collect;
  * `localCheckpoint` truncates the iterative lineage as in
  * [[ConnectedComponents]].
  */
object PageRank {

  /** `edges`: two columns (src, dst), directed. Returns (node, pr)
    * with pr in micro-units after `iters` rounds. */
  def integerPageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e0 = edges.toDF("u", "v").distinct()
    val deg = e0.groupBy("u").agg(count(lit(1)).as("outdeg"))
    // outdeg is a PROPERTY OF THE EDGE SET — fold it into the edge rows
    // once, outside the loop, so each iteration joins pr against ONE
    // pre-partitioned (u, v, outdeg) table instead of re-aggregating
    // and re-joining the degree table every round
    val e = e0.join(deg, "u")
      .repartition(col("u")).transform(CheckpointScope.pin(_))
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
      .transform(CheckpointScope.pin(_))
    var pr = nodes.withColumn("pr", lit(1000000L))
    val roll = new LoopCheckpoint.Rolling // round r dead once r+1 lands
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"),
                expr("(pr * 850) div (1000 * outdeg)").as("c"))
      pr = nodes.join(contrib.groupBy("node").agg(sum(col("c")).as("s")),
                      Seq("node"), "left")
        .select(col("node"),
                (lit(150000L) + coalesce(col("s"), lit(0L))).as("pr"))
      pr = roll.next(pr)
    }
    pr
  }
}
