package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalOrder

/** Contracts for the cardinality-gated `*Auto` numbering variants
  * (titles name the grouped forms `withGrouped*Auto` and the one-sum
  * form `withRunningSumAuto`: the `groupCols` and one-element calls):
  *
  *   1. value equality — whichever branch the gate picks, the output
  *      must equal the single-partition window bit-for-bit (same
  *      values, same LongType);
  *   2. branch selection — below the threshold the plan must be the
  *      plain window (no join anywhere: the distributed form always
  *      carries the offset broadcast join); above it the distributed
  *      form must engage (offset join present);
  *   3. a caller-supplied `bound` decides statically — no count job,
  *      and it overrides the actual size in either direction (the
  *      bound is the caller's proof; trusting it IS the contract).
  */
class GlobalOrderAutoSpec extends SparkSpec {
  import spark.implicits._

  private val ThresholdKey = "spark.graft.globalorder.smallThreshold"

  private def withThreshold[T](n: Long)(body: => T): T = {
    spark.conf.set(ThresholdKey, n.toString)
    try body finally spark.conf.unset(ThresholdKey)
  }

  private def fixture(n: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, r.nextInt(40).toLong))
      .toDF("k", "v").repartition(5)
  }

  /** The distributed form is the only branch with a Join (the P-row
    * offset broadcast); the small path is join-free on a join-free
    * input. */
  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  test("withRowNumberAuto: small path below threshold, values exact") {
    val df = fixture(500, 1)
    withThreshold(1000) {
      val out = GlobalOrder.withRowNumberAuto(df, Seq(col("v"), col("k")), "rn")
      assert(!hasJoin(out), "small path must not build the offset join")
      val got = out.select("k", "rn").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(col("v"), col("k"))).cast("long"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      assert(got == want)
      assert(out.schema("rn").dataType ==
        org.apache.spark.sql.types.LongType)
    }
  }

  test("withRowNumberAuto: distributed form engages above threshold") {
    val df = fixture(500, 2)
    withThreshold(100) {
      val out = GlobalOrder.withRowNumberAuto(df, Seq(col("v"), col("k")), "rn")
      assert(hasJoin(out), "distributed form must engage above the bound")
      val got = out.select("k", "rn").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(col("v"), col("k"))).cast("long"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  test("caller-supplied bound decides statically, both directions") {
    val df = fixture(500, 3)
    withThreshold(100) {
      // bound says tiny → small path even though the conf bound is low
      val small = GlobalOrder.withRowNumberAuto(
        df, Seq(col("v"), col("k")), "rn", bound = Some(50))
      assert(!hasJoin(small))
    }
    withThreshold(1000000) {
      // bound says huge → distributed even though the input is tiny
      val big = GlobalOrder.withRowNumberAuto(
        df, Seq(col("v"), col("k")), "rn", bound = Some(5000000L))
      assert(hasJoin(big))
      val got = big.select("k", "rn").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(col("v"), col("k"))).cast("long"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  test("withRankAuto equal on both branches") {
    val df = fixture(400, 4)
    val want = df.withColumn("rk",
        rank().over(Window.orderBy(col("v"))).cast("long"))
      .select("k", "rk").as[(Long, Long)].collect().toMap
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRankAuto(df, Seq(col("v")), "rk")
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "rk").as[(Long, Long)].collect().toMap == want,
        s"threshold=$t")
    }
  }

  test("withNtileAuto equal on both branches at uneven remainders") {
    for (rows <- Seq(3, 257); t <- Seq(1L, 100000L)) {
      val df = fixture(rows, 100L + rows)
      val want = df.withColumn("b",
          ntile(7).over(Window.orderBy(col("v"), col("k"))).cast("long"))
        .select("k", "b").as[(Long, Long)].collect().toMap
      withThreshold(t) {
        val out = GlobalOrder.withNtileAuto(df, 7, Seq(col("v"), col("k")), "b")
        assert(out.select("k", "b").as[(Long, Long)].collect().toMap == want,
          s"rows=$rows threshold=$t")
      }
    }
  }

  test("withRunningSumAuto equal on both branches") {
    val df = fixture(400, 5)
    val want = df.withColumn("cum",
        sum(col("v") + 1).over(Window.orderBy(col("v"), col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRunningSumsAuto(
        df, Seq(col("v"), col("k")), Seq(col("v") + 1 -> "cum"))
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "cum").as[(Long, Long)].collect().toMap == want,
        s"threshold=$t")
    }
  }

  test("withGroupedRowNumberAuto equal on both branches") {
    val r = new scala.util.Random(6)
    val df = (0 until 600).map(i =>
      (i.toLong, s"g${r.nextInt(3)}", r.nextInt(40).toLong))
      .toDF("k", "g", "v").repartition(5)
    val want = df.withColumn("rn",
        row_number().over(Window.partitionBy("g")
          .orderBy(col("v"), col("k"))).cast("long"))
      .select("k", "rn").as[(Long, Long)].collect().toMap
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRowNumberAuto(
        df, Seq(col("v"), col("k")), "rn", groupCols = Seq("g"))
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "rn").as[(Long, Long)].collect().toMap == want,
        s"threshold=$t")
    }
  }

  test("withGroupedRankAuto equal on both branches (gap semantics)") {
    val r = new scala.util.Random(8)
    val df = (0 until 600).map(i =>
      (i.toLong, s"g${r.nextInt(3)}", r.nextInt(8).toLong)) // tie-heavy
      .toDF("k", "g", "v").repartition(5)
    val want = df.withColumn("rk",
        rank().over(Window.partitionBy("g").orderBy(col("v"))).cast("long"))
      .select("k", "rk").as[(Long, Long)].collect().toSeq.sorted
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRankAuto(
        df, Seq(col("v")), "rk", groupCols = Seq("g"))
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "rk").as[(Long, Long)].collect().toSeq.sorted
        == want, s"threshold=$t")
    }
  }

  test("withRunningSumsAuto equal on both branches, validations on both") {
    val df = fixture(400, 9)
    val w = Window.orderBy(col("v"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("c1", sum(col("v")).over(w))
      .withColumn("c2", sum(col("v") * 2).over(w))
      .select("k", "c1", "c2").as[(Long, Long, Long)].collect().toSet
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRunningSumsAuto(df, Seq(col("v"), col("k")),
        Seq((col("v"), "c1"), (col("v") * 2, "c2")))
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "c1", "c2").as[(Long, Long, Long)]
        .collect().toSet == want, s"threshold=$t")
      // the small branch must reject bad output names exactly like the
      // distributed one — the validation runs before the gate
      intercept[IllegalArgumentException] {
        GlobalOrder.withRunningSumsAuto(df, Seq(col("v")),
          Seq((col("v"), "c"), (col("v") + 1, "c")))
      }
      intercept[IllegalArgumentException] {
        GlobalOrder.withRunningSumsAuto(df, Seq(col("v")),
          Seq((col("v"), "v")))
      }
    }
  }

  test("withGroupedRunningSumAuto equal on both branches") {
    val r = new scala.util.Random(10)
    val df = (0 until 600).map(i =>
      (i.toLong, s"g${r.nextInt(3)}", r.nextInt(40).toLong))
      .toDF("k", "g", "v").repartition(5)
    val want = df.withColumn("cum",
        sum(col("v")).over(Window.partitionBy("g").orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum").as[(Long, Long)].collect().toMap
    for (t <- Seq(10L, 100000L)) withThreshold(t) {
      val out = GlobalOrder.withRunningSumsAuto(
        df, Seq(col("k")), Seq(col("v") -> "cum"), groupCols = Seq("g"))
      assert(hasJoin(out) == (t == 10L))
      assert(out.select("k", "cum").as[(Long, Long)].collect().toMap == want,
        s"threshold=$t")
    }
  }

  test("gate takes NO pin on a re-evaluable input (round-14)") {
    // LocalRelation is a leaf: re-evaluation is free, so the gate must
    // decide via a bare count — persisting a scan-rooted fact
    // projection at 100 TB would be the exact block churn the
    // literal-bounds rewrite deleted
    val df = (0 until 300).map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
    val before = GlobalOrder.gatePinSnapshot(spark).size
    withThreshold(1000) {
      val out = GlobalOrder.withRowNumberAuto(df, Seq(col("v"), col("k")), "rn")
      assert(out.count() == 300)
    }
    assert(GlobalOrder.gatePinSnapshot(spark).size == before,
      "re-evaluable input must not enter the gate-pin FIFO")
  }

  test("gate pins a nondeterministic input instead of re-evaluating it " +
       "(round-15 ADVICE)") {
    // a rand()-derived projection re-evaluated per consumer would hand
    // the count and the chosen branch different row sets — the gate
    // must take the persist path (snapshot once) for it
    val df = (0 until 300).map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
      .withColumn("r", rand(7))
    withThreshold(1000) {
      val out = GlobalOrder.withRowNumberAuto(df, Seq(col("v"), col("k")), "rn")
      assert(out.count() == 300)
    }
    // the FIFO may already be at cap from earlier gates — the signal is
    // that the NEWEST pin is this frame (its schema carries the rand
    // column), i.e. the gate snapshotted it instead of re-evaluating
    val pins = GlobalOrder.gatePinSnapshot(spark)
    assert(pins.nonEmpty && pins.last.columns.sameElements(
      Array("k", "v", "r")),
      "nondeterministic input must take the persist/pin path")
  }

  test("withRunningSums rejects duplicate and colliding output names") {
    val df = fixture(50, 7)
    intercept[IllegalArgumentException] {
      GlobalOrder.withRunningSums(df, Seq(col("v"), col("k")),
        Seq((col("v"), "c"), (col("v") + 1, "c")))
    }
    intercept[IllegalArgumentException] {
      GlobalOrder.withRunningSums(df, Seq(col("v"), col("k")),
        Seq((col("v"), "v")))
    }
  }
}
