package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling: iteratively delete nodes of degree < k and
  * the edges they carry. The survivors after enough rounds are the
  * k-core — the standard "dense part of the graph" extraction used to
  * seed community detection and to prune near-dup candidate graphs
  * down to the clusters worth exact-verifying.
  *
  * Beyond the reference; graph family ([[ConnectedComponents]],
  * [[PageRank]], [[Triangles]], [[Bfs]]).
  *
  * Fixed `rounds` (not run-to-fixpoint) keeps the operator a
  * deterministic bounded dataflow: each round is one degree aggregate
  * plus two semi-joins, all keyed on node ids, lineage cut per round.
  * Peeling converges monotonically (the surviving set only shrinks),
  * so `rounds` is a precision knob exactly like the fixed iteration
  * counts in [[PageRank]] — and lets a SQL oracle unroll the rounds
  * as CTE stages and match bit-for-bit.
  */
object KCore {

  /** Surviving (node, deg) pairs — degree measured inside the
    * surviving subgraph — after `rounds` peels at threshold `k`.
    * `edges`: two numeric columns, undirected, duplicates/self-loops
    * tolerated.
    *
    * The loop state is the NODE-sized alive set, never the edges: the
    * edge relation is pinned once and each round derives the induced
    * subgraph's degrees by two semi-joins against the previous alive
    * set (alive₀ = everyone, so round 1 skips them). Re-checkpointing
    * the peeled edge relation per round — the previous form — rewrote
    * the whole graph k times to delete a sparse fringe; the recurrence
    * is identical because a round's survivors depend only on degrees
    * inside the subgraph the previous alive set induces. */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got $k, $rounds")
    val e = edges.toDF("u", "v").filter(col("u") =!= col("v"))
    // canonical half deduped once; the mirrored orientations are
    // disjoint so the union needs no second distinct
    val canon = e.select(least(col("u"), col("v")).as("u"),
                         greatest(col("u"), col("v")).as("v")).distinct()
    val sym = canon.union(canon.select(col("v"), col("u")))
      .transform(CheckpointScope.pin(_))
    def induced(alive: Option[DataFrame]): DataFrame =
      alive.fold(sym)(a =>
        sym.join(a, Seq("u"), "left_semi")
           .join(a.select(col("u").as("v")), Seq("v"), "left_semi"))
    var alive: Option[DataFrame] = None
    // rolling: round r's alive set is dead once round r+1's cut lands
    val roll = new LoopCheckpoint.Rolling
    for (_ <- 1 to rounds) {
      // node-sized per-round state; it feeds both endpoint semi-joins
      // of the next round, so the checkpoint is cheaper than running
      // the degree aggregate twice
      alive = Some(roll.next(induced(alive)
        .groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")))
    }
    induced(alive).groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }
}
