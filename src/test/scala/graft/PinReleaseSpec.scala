package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Bfs, CheckpointScope, Funnel, KCore, MarketBasket,
  PageRank}

/** The checkpoint lifecycle contract (docs/DEPLOY.md, "Checkpoint
  * lifecycle"): every checkpoint a query creates is released when its
  * [[CheckpointScope.scoped]] block ends. Each case runs one operator
  * that pins one-shot frames once inside a scope and asserts that no
  * RDD persisted inside the scope is still persistent after it — a pin
  * that skips scope registration stays persistent until a driver GC
  * happens to reach the ContextCleaner.
  */
class PinReleaseSpec extends SparkSpec {
  import spark.implicits._

  /** Builds and consumes `body` in one scope; no RDD it persisted may
    * outlive the scope. */
  private def assertReleased(body: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    CheckpointScope.scoped { body.count() }
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"persistent RDDs left after the scope: $left")
  }

  private def edges: DataFrame =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
        (6L, 7L)).toDF("u", "v")

  test("PageRank.integerPageRank releases its edge and node pins") {
    assertReleased(PageRank.integerPageRank(edges, 3))
  }

  test("Bfs.boundedDistances releases its edge and source pins") {
    assertReleased(Bfs.boundedDistances(edges, Seq(1L).toDF("node"), 3))
  }

  test("Bfs.boundedMinCost releases its edge and source pins") {
    val weighted = Seq((1L, 2L, 4L), (2L, 3L, 1L), (1L, 3L, 7L),
      (3L, 4L, 2L)).toDF("u", "v", "cost")
    assertReleased(Bfs.boundedMinCost(weighted, Seq(1L).toDF("node"), 3))
  }

  test("KCore.peel releases its symmetric edge pin") {
    assertReleased(KCore.peel(edges, 2, 3))
  }

  test("MarketBasket.pairRules releases its basket-set pin") {
    val items = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "b"), (3L, "c")).toDF("basket", "item")
    assertReleased(MarketBasket.pairRules(items, "basket", "item", 1L))
  }

  test("a 2-step Funnel.funnel releases its step-frame pins") {
    val events = Seq((1L, "view", 10L), (1L, "buy", 20L), (2L, "view", 5L),
      (3L, "buy", 1L)).toDF("user_id", "event_type", "ts")
    assertReleased(Funnel.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "buy")))
  }

  test("q_retention_events releases its persons pin (sf0.001)") {
    assertReleased(
      SparkEntry.queries("q_retention_events")(spark, "/root/testdata/sf0.001"))
  }
}
