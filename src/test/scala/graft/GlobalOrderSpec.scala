package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GlobalOrder

/** Differential contracts for the distributed global-order operator:
  * every numbering must equal the single-partition window's value on
  * randomized data (ties, desc order, uneven ntile remainders), and
  * the executed plan must contain NO SinglePartition exchange over the
  * data — the scale-killer the operator exists to remove. Titles name
  * the grouped forms `withGrouped*` and the one-sum form
  * `withRunningSum`: those are the `groupCols` and one-element calls. */
class GlobalOrderSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(n: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    // duplicate-heavy value domain so ties cross range boundaries
    (0 until n).map(i => (i.toLong, r.nextInt(40).toLong))
      .toDF("k", "v").repartition(7)
  }

  test("withRowNumber matches the global window under a total tiebreak") {
    val df = fixture(5000, 1)
    val got = GlobalOrder.withRowNumber(
        df, Seq(col("v"), col("k")), "rn", parts = 8)
      .select("k", "rn").as[(Long, Long)].collect().toMap
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("k"))).cast("long"))
      .select("k", "rn").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("withRank matches global rank gaps on tie-heavy data, desc order") {
    val df = fixture(3000, 2)
    val got = GlobalOrder.withRank(df, Seq(col("v").desc), "rk", parts = 8)
      .select("k", "rk").as[(Long, Long)].collect().toMap
    val want = df.withColumn("rk",
        rank().over(Window.orderBy(col("v").desc)).cast("long"))
      .select("k", "rk").as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got.values.toSet.size < 45, "fixture must actually have ties")
  }

  test("withNtile matches NTILE for every remainder class") {
    for (n <- Seq(1, 4, 7, 64); rows <- Seq(3, 64, 257)) {
      val df = fixture(rows, n * 1000L + rows)
      val got = GlobalOrder.withNtile(
          df, n, Seq(col("v"), col("k")), "t", parts = 5)
        .select("k", "t").as[(Long, Long)].collect().toMap
      val want = df.withColumn("t",
          ntile(n).over(Window.orderBy(col("v"), col("k"))).cast("long"))
        .select("k", "t").as[(Long, Long)].collect().toMap
      assert(got == want, s"ntile($n) over $rows rows")
    }
  }

  test("withRunningSum matches the global cumulative window") {
    val df = fixture(4000, 3)
    val got = GlobalOrder.withRunningSums(
        df, Seq(col("v"), col("k")), Seq(col("v") * 3 + 1 -> "cum"), parts = 8)
      .select("k", "cum").as[(Long, Long)].collect().toMap
    val want = df.withColumn("cum",
        sum(col("v") * 3 + 1).over(Window.orderBy(col("v"), col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("withRunningSums: N sums in one pass equal N chained windows") {
    val df = fixture(4000, 3)
    val got = GlobalOrder.withRunningSums(
        df, Seq(col("v"), col("k")),
        Seq((col("v") * 3 + 1, "c1"), (lit(1L), "c2"),
            (when(col("v") % 2 === 0, col("v")).otherwise(lit(0L)), "c3")),
        parts = 8)
      .select("k", "c1", "c2", "c3").as[(Long, Long, Long, Long)]
      .collect().map { case (k, a, b, c) => k -> (a, b, c) }.toMap
    val w = Window.orderBy(col("v"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("c1", sum(col("v") * 3 + 1).over(w))
      .withColumn("c2", sum(lit(1L)).over(w))
      .withColumn("c3",
        sum(when(col("v") % 2 === 0, col("v")).otherwise(lit(0L))).over(w))
      .select("k", "c1", "c2", "c3").as[(Long, Long, Long, Long)]
      .collect().map { case (k, a, b, c) => k -> (a, b, c) }.toMap
    assert(got == want)
  }

  test("no SinglePartition exchange in the data path") {
    val df = fixture(2000, 4)
    val out = GlobalOrder.withRowNumber(
        df, Seq(col("v"), col("k")), "rn", parts = 8)
    out.count() // execute so AQE finalizes
    val plan = out.queryExecution.executedPlan.toString
    // the P-row offset table may legitimately single-partition; the
    // DATA window must not — assert no window node sits above a
    // SinglePartition exchange by checking the only single-partition
    // exchanges feed broadcast (offset) subtrees
    val windowOnSingle = "Exchange SinglePartition".r
      .findAllMatchIn(plan).size
    val broadcasts = "BroadcastExchange".r.findAllMatchIn(plan).size
    assert(windowOnSingle <= broadcasts,
      s"data-path SinglePartition exchange present:\n$plan")
    // and the baseline global window DOES trip the detector
    val bad = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("k"))))
    bad.count()
    assert(bad.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"),
      "positive control: global window must show SinglePartition")
  }

  // grouped fixture: FEW groups (the case the grouped variants exist
  // for), tie-heavy values, groups interleaved so every group spans
  // many range partitions
  private def grouped(n: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, s"g${r.nextInt(3)}", r.nextInt(40).toLong)
    }.toDF("k", "g", "v").repartition(7)
  }

  test("withGroupedRank matches the grouped window on tie-heavy data") {
    val df = grouped(5000, 6)
    val got = GlobalOrder.withRank(
        df, Seq(col("v")), "rk", groupCols = Seq("g"), parts = 8)
      .select("k", "rk").as[(Long, Long)].collect().toMap
    val want = df.withColumn("rk",
        rank().over(Window.partitionBy("g").orderBy(col("v"))).cast("long"))
      .select("k", "rk").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("withGroupedRowNumber matches under a total in-group tiebreak") {
    val df = grouped(4000, 7)
    val got = GlobalOrder.withRowNumber(
        df, Seq(col("v").desc, col("k")), "rn", groupCols = Seq("g"), parts = 8)
      .select("k", "rn").as[(Long, Long)].collect().toMap
    val want = df.withColumn("rn",
        row_number().over(Window.partitionBy("g")
          .orderBy(col("v").desc, col("k"))).cast("long"))
      .select("k", "rn").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("withGroupedRunningSum matches the grouped cumulative window") {
    val df = grouped(4000, 8)
    val got = GlobalOrder.withRunningSums(
        df, Seq(col("v"), col("k")), Seq(col("v") * 3 + 1 -> "cum"),
        groupCols = Seq("g"), parts = 8)
      .select("k", "cum").as[(Long, Long)].collect().toMap
    val want = df.withColumn("cum",
        sum(col("v") * 3 + 1).over(Window.partitionBy("g")
          .orderBy(col("v"), col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("grouped variants handle a single-group and a one-row group") {
    val df = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "a", 1L), (4L, "b", 9L))
      .toDF("k", "g", "v").repartition(3)
    val rk = GlobalOrder.withRank(df, Seq(col("v")), "rk", Seq("g"), 4)
      .select("k", "rk").as[(Long, Long)].collect().toMap
    assert(rk == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("empty input yields empty output for every numbering") {
    val df = fixture(100, 5).filter(col("v") < -1)
    assert(GlobalOrder.withRowNumber(df, Seq(col("k")), "rn").count() == 0)
    assert(GlobalOrder.withNtile(df, 4, Seq(col("k")), "t").count() == 0)
    assert(GlobalOrder.withRunningSums(df, Seq(col("k")), Seq(col("v") -> "c"))
      .count() == 0)
  }

  // ------------------------------------------------------------------
  // bounds strategy (round 14): literal split points + bisect pid —
  // the pin-free plan — and the pinned range-exchange plan that
  // non-comparable sort keys take. Differentials against the window,
  // plus the physical guarantees the design leans on.
  // ------------------------------------------------------------------

  /** Tie-heavy BINARY sort key: the driver-side sample cannot order
    * it, so every numbering takes the pinned range-exchange plan. */
  private def binaryKeyed(n: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array[Byte](r.nextInt(6).toByte,
        r.nextInt(4).toByte)))
      .toDF("k", "b").repartition(5)
  }

  test("binary sort keys take the pinned plan and match the window") {
    val df = binaryKeyed(3000, 11)
    graft.operators.CheckpointScope.scoped {
      val rn = GlobalOrder.withRowNumber(
          df, Seq(col("b").desc, col("k")), "rn", parts = 8)
        .select("k", "rn").as[(Long, Long)].collect().toMap
      assert(graft.operators.CheckpointScope.pendingCount == 1,
        "a non-comparable key must pin the range-exchanged frame")
      val wantRn = df.withColumn("rn", row_number().over(
          Window.orderBy(col("b").desc, col("k"))).cast("long"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      assert(rn == wantRn)
    }
    val rk = GlobalOrder.withRank(df, Seq(col("b")), "rk", parts = 8)
      .select("k", "rk").as[(Long, Long)].collect().toMap
    val wantRk = df.withColumn("rk",
        rank().over(Window.orderBy(col("b"))).cast("long"))
      .select("k", "rk").as[(Long, Long)].collect().toMap
    assert(rk == wantRk)
    assert(rk.values.toSet.size < 30, "fixture must actually have ties")
  }

  test("bounds strategy honors explicit null orderings") {
    val rows = Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (2L, 5L), (3L, null), (4L, 1L), (5L, 9L), (6L, 5L),
      (7L, null), (8L, 0L))
    val df = rows.toDF("k", "v").repartition(3)
    for (sort <- Seq(col("v").asc_nulls_last, col("v").desc_nulls_first,
                     col("v").asc_nulls_first, col("v").desc_nulls_last)) {
      val got = GlobalOrder.withRank(df, Seq(sort), "rk", parts = 4)
        .select("k", "rk").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rk",
          rank().over(Window.orderBy(sort)).cast("long"))
        .select("k", "rk").as[(Long, Long)].collect().toMap
      assert(got == want, s"sort $sort")
    }
  }

  test("bounds strategy on string keys matches the window") {
    val r = new scala.util.Random(13)
    val df = (0 until 3000)
      .map(i => (i.toLong, s"w${r.nextInt(50)}%03d")).toDF("k", "s")
      .repartition(7)
    val got = GlobalOrder.withRowNumber(
        df, Seq(col("s"), col("k")), "rn", parts = 8)
      .select("k", "rn").as[(Long, Long)].collect().toMap
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("s"), col("k"))).cast("long"))
      .select("k", "rn").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("degenerate all-equal sort key still numbers correctly") {
    val df = (0 until 1000).map(i => (i.toLong, 7L)).toDF("k", "v")
      .repartition(5)
    val got = GlobalOrder.withRank(df, Seq(col("v")), "rk", parts = 8)
      .select("rk").as[Long].collect()
    assert(got.forall(_ == 1L), "all ties must share global rank 1")
  }

  test("bounds strategy registers NO checkpoint pins on cheap inputs") {
    // leaf-rooted input (no repartition/join/agg): must stay pin-free
    val r = new scala.util.Random(17)
    val df = (0 until 3000).map(i => (i.toLong, r.nextInt(40).toLong))
      .toDF("k", "v")
    graft.operators.CheckpointScope.scoped {
      GlobalOrder.withRowNumber(
          df, Seq(col("v"), col("k")), "rn", parts = 8).count()
      assert(graft.operators.CheckpointScope.pendingCount == 0,
        "pin-free plan must not register checkpoint frames")
    }
    graft.operators.CheckpointScope.scoped {
      GlobalOrder.withRowNumber(binaryKeyed(3000, 17),
        Seq(col("b"), col("k")), "rn", parts = 8).count()
      assert(graft.operators.CheckpointScope.pendingCount == 1,
        "positive control: the range-exchange plan pins the ranged frame")
    }
  }

  test("bounds strategy pins a DERIVED input exactly once") {
    // aggregate input: re-evaluating it per consumer (sample, shuffle
    // feed, offsets) would re-run the aggregation — ranged pins it
    val df = fixture(3000, 18).groupBy("v")
      .agg(count(lit(1)).as("n"))
    graft.operators.CheckpointScope.scoped {
      val got = GlobalOrder.withRowNumber(
          df, Seq(col("n"), col("v")), "rn", parts = 8)
      got.count()
      assert(graft.operators.CheckpointScope.pendingCount == 1,
        "derived input must be pinned once")
      // and the numbering over the pinned frame is still correct
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(col("n"), col("v"))).cast("long"))
        .select("v", "rn").as[(Long, Long)].collect().toMap
      assert(got.select("v", "rn").as[(Long, Long)].collect().toMap == want)
    }
  }

  test("placeSlots lands every range in its own physical partition") {
    // the slot table promises pmod(murmur3(v_j), p) = j under
    // repartition's hash — verified against the EXECUTED placement so
    // a hash-function drift in Spark fails here, not as silent skew
    val p = 8
    val slots = GlobalOrder.placeSlots(p, p)
    assert(slots.distinct.length == p)
    val placed = slots.toSeq.toDF("place")
      .repartition(p, col("place"))
      .select(col("place"), spark_partition_id().as("part"))
      .as[(Int, Int)].collect().toMap
    assert(placed.values.toSet.size == p,
      s"slot collision: $placed")
    slots.zipWithIndex.foreach { case (v, j) =>
      assert(placed(v) == j, s"slot $v must land in partition $j")
    }
  }

  test("bounds numbering balances ranges across tasks") {
    // 40k rows, 8 ranges: no physical partition may hold more than
    // ~3x its fair share (the sampled bounds + slot placement promise)
    val df = fixture(40000, 19)
    val got = GlobalOrder.withRowNumber(
        df, Seq(col("v"), col("k")), "rn", parts = 8)
    val byPart = got.select(spark_partition_id().as("p"))
      .groupBy("p").count().as[(Int, Long)].collect()
    // numbering output partitioning reflects the range shuffle
    val max = byPart.map(_._2).max
    assert(max <= 3 * (40000 / 8),
      s"range imbalance: ${byPart.mkString(",")}")
  }
}
