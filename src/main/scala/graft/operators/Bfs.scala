package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop multi-source BFS shortest distances over an undirected
  * graph — "how far is every node from the seed set, up to H hops".
  * The building block for neighborhood expansion (related-document
  * discovery from a trusted seed corpus), contamination-radius checks,
  * and bounded reachability audits.
  *
  * Beyond the reference (no graph ops); completes the graph family
  * with [[ConnectedComponents]] (unbounded reachability), [[PageRank]]
  * (stationary mass) and [[Triangles]] (local structure).
  *
  * Algorithm: frontier-expansion BFS, the Pregel dataflow form. Round
  * h joins ONLY the hop-(h−1) frontier against the adjacency list —
  * not the whole distance table — because in BFS a node first reached
  * in round h can only be discovered from a node first reached in
  * round h−1. Each round is one equi-join + one anti-join, both on
  * `node`; per-round work is O(frontier × avg-degree), so total work
  * is O(edges within H hops) regardless of graph size. Lineage is cut
  * per round with `localCheckpoint` (the [[ConnectedComponents]]
  * pattern) so the plan does not grow exponentially with H.
  */
object Bfs {

  /** Distances 0..maxHops from `sources` (single column of node ids).
    * `edges`: two numeric columns, undirected (either orientation /
    * duplicates / self-loops tolerated). Nodes not reached within
    * `maxHops` are absent from the output.
    */
  def boundedDistances(edges: DataFrame, sources: DataFrame,
                       maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.toDF("u", "v").filter(col("u") =!= col("v"))
    // canonicalize + dedupe HALF the rows, then mirror — the two
    // orientations are disjoint, so the union needs no second distinct
    val canon = e.select(least(col("u"), col("v")).as("u"),
                         greatest(col("u"), col("v")).as("v")).distinct()
    // pre-partitioned on the probe-side key so every round's join
    // reuses one layout
    val sym = canon.union(canon.select(col("v"), col("u")))
      .repartition(col("u"))
      .transform(CheckpointScope.pin(_))

    var dist = sources.toDF("node").distinct()
      .select(col("node"), lit(0).as("dist"))
      .transform(CheckpointScope.pin(_))
    var frontier = dist
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val reached = frontier.join(sym, frontier("node") === sym("u"))
        .select(sym("v").as("node")).distinct()
      // strictly-new nodes only: their BFS distance is exactly h
      frontier = LoopCheckpoint(
        reached.join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(h).as("dist")))
      // dist is a union of checkpointed frontiers — lineage depth is
      // the hop count, not the data size, so no checkpoint needed
      dist = dist.union(frontier)
      h += 1
    }
    dist
  }

  /** Bounded Bellman-Ford: min-COST paths within `rounds` hops over
    * weighted undirected edges `(u, v, cost)` — the weighted sibling
    * of [[boundedDistances]]. The frontier trick does NOT apply (a
    * longer path may be cheaper, so settled costs can still improve);
    * each round relaxes the full cost table through the edge set and
    * keeps the per-node min. Costs must be non-negative integers;
    * fixed `rounds` makes the oracle an unrolled CTE chain and bounds
    * the dataflow like [[PageRank]]'s iteration count.
    */
  def boundedMinCost(edges: DataFrame, sources: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.toDF("u", "v", "cost").filter(col("u") =!= col("v"))
    val sym = e.union(e.select(col("v"), col("u"), col("cost")))
      .groupBy("u", "v").agg(min("cost").as("cost"))
      .repartition(col("u"))
      .transform(CheckpointScope.pin(_))
    var dist = sources.toDF("node").distinct()
      .select(col("node"), lit(0L).as("cost"))
      .transform(CheckpointScope.pin(_))
    // rolling: unlike boundedDistances (whose result unions EVERY
    // round's frontier), each relaxation round fully replaces the
    // previous cost table — round r is dead once r+1's cut lands
    val roll = new LoopCheckpoint.Rolling
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(sym, dist("node") === sym("u"))
        .select(sym("v").as("node"),
                (dist("cost") + sym("cost")).as("cost"))
      dist = roll.next(
        dist.union(relaxed)
          .groupBy("node").agg(min("cost").as("cost")))
    }
    dist
  }
}
