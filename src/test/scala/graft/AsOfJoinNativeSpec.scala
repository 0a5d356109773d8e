package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.plans.AsOfDirection.{Backward, Forward, Nearest}
import graft.plans.{AsOfDirection, AsOfJoinNative}

/** The custom physical as-of join vs a plain-Scala reference
  * ([[AsOfReference]]) — two independent formulations of the same
  * contract, compared on random data in every direction (plus
  * plan-shape, null-semantics and input-validation pins). */
class AsOfJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  private type Probe = (Option[Long], Option[Long], Int)
  private type State = (Option[Long], Option[Long], Long)
  private val directions = Seq(Backward, Forward, Nearest)

  /** Native join of probes (k, t, payload) against states (k, st, sv),
    * checked row for row against the reference. */
  private def assertMatchesReference(probes: Seq[Probe], states: Seq[State],
      direction: AsOfDirection, tolerance: Option[Long]): Unit = {
    val got = AsOfJoinNative.joinAsOf(
        probes.toDF("k", "t", "payload"), states.toDF("k", "st", "sv"),
        Seq("k"), "t", "st", Seq("st", "sv"), tolerance, direction)
      .as[(Option[Long], Option[Long], Int, Option[Long], Option[Long])]
      .collect().toSeq
    val ref = new AsOfReference(states)
    val want = probes.map { case (k, t, p) =>
      val m = ref(k, t, direction, tolerance)
      (k, t, p, m.map(_._1), m.map(_._2))
    }
    // one output row per probe row, each with its reference match
    assert(got.sortBy(_.toString) == want.sortBy(_.toString),
      s"direction $direction, tolerance $tolerance")
  }

  test("every direction matches a brute-force reference on random data") {
    val rnd = new Random(42)
    def maybe(x: Int): Option[Long] =
      if (rnd.nextInt(20) == 0) None else Some(x.toLong)
    // probe keys 20..29 have no state; ~5% null keys and times per side
    val probes = (1 to 400).map(_ =>
      (maybe(rnd.nextInt(30)), maybe(rnd.nextInt(1000)), rnd.nextInt()))
    val states = (1 to 150).map(_ =>
      (maybe(rnd.nextInt(20)), maybe(rnd.nextInt(1000)),
       rnd.nextInt(100).toLong))
      .distinctBy(s => (s._1, s._2)) // unique (key, time) ⇒ deterministic ties
    (directions.map(_ -> None) :+ (Forward -> Some(40L))).foreach {
      case (d, tol) => assertMatchesReference(probes, states, d, tol)
    }
    directions.foreach(assertMatchesReference(probes, Seq.empty, _, None))
  }

  test("null keys and null times never match; missing state gives nulls") {
    val probes = Seq((Some(1L), Some(10L)), (None, Some(10L)),
                     (Some(1L), None), (Some(9L), Some(10L)))
      .toDF("k", "t")
    val states = Seq((Some(1L), Some(5L), "a"), (Some(1L), None, "bad"),
                     (None, Some(1L), "bad2"))
      .toDF("k", "st", "sv")
    val got = AsOfJoinNative.joinAsOf(
        probes, states, Seq("k"), "t", "st", Seq("sv"))
      .as[(Option[Long], Option[Long], Option[String])].collect().toSet
    assert(got == Set(
      (Some(1L), Some(10L), Some("a")), // real match
      (None, Some(10L), None),          // null probe key
      (Some(1L), None, None),           // null probe time
      (Some(9L), Some(10L), None)))     // no state for key
  }

  test("tolerance bounds staleness (merge_asof semantics)") {
    val probes = Seq((1L, 100L), (1L, 150L), (1L, 500L), (2L, 100L))
      .toDF("k", "t")
    val states = Seq((1L, 90L, "fresh"), (2L, 10L, "stale"))
      .toDF("k", "st", "sv")
    val got = AsOfJoinNative.joinAsOf(
        probes, states, Seq("k"), "t", "st", Seq("sv"), tolerance = Some(60L))
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == Set(
      (1L, 100L, Some("fresh")),  // 10 ticks old, within 60
      (1L, 150L, Some("fresh")),  // 60 ticks old, at the bound (<=)
      (1L, 500L, None),           // 410 ticks old → too stale
      (2L, 100L, None)))          // 90 ticks old → too stale
    // without tolerance all four match their latest state
    val all = AsOfJoinNative.joinAsOf(
        probes, states, Seq("k"), "t", "st", Seq("sv"))
      .as[(Long, Long, Option[String])].collect()
    assert(all.forall(_._3.isDefined))
  }

  test("tolerance matches the brute-force reference in every direction") {
    val rnd = new Random(99)
    val probes = (1 to 300).map(_ =>
      (Option(rnd.nextInt(15).toLong), Option(rnd.nextInt(1000).toLong), 0))
    val states = (1 to 120).map(_ =>
      (Option(rnd.nextInt(15).toLong), Option(rnd.nextInt(1000).toLong),
       rnd.nextInt(100).toLong))
      .distinctBy(s => (s._1, s._2))
    for (d <- directions; tol <- Seq(0L, 75L))
      assertMatchesReference(probes, states, d, Some(tol))
  }

  test("mismatched key or time types fail fast, naming both types") {
    val states = Seq((1L, 5L, "a")).toDF("k", "st", "sv")
    def join(probes: org.apache.spark.sql.DataFrame) = AsOfJoinNative.joinAsOf(
      probes, states, Seq("k"), "t", "st", Seq("sv"))
    // an INT key and an equal BIGINT key hash to different partitions
    val byKey = intercept[IllegalArgumentException](
      join(Seq((1, 10L)).toDF("k", "t")))
    assert(byKey.getMessage.contains("left k is int, right k is bigint"),
      byKey.getMessage)
    assert(byKey.getMessage.contains("cast one side"))
    val byTime = intercept[IllegalArgumentException](
      join(Seq((1L, 10)).toDF("k", "t")))
    assert(byTime.getMessage.contains("left t is int, right st is bigint"),
      byTime.getMessage)
    // cast one side and every probe finds its state, across partitions
    val manyStates = (1L to 2000L).map(k => (k, 5L, k)).toDF("k", "st", "sv")
    val matched = AsOfJoinNative.joinAsOf(
        (1 to 2000).map(k => (k, 10L)).toDF("k", "t")
          .withColumn("k", col("k").cast("long")),
        manyStates, Seq("k"), "t", "st", Seq("sv"))
      .filter(col("sv") === col("k")).count()
    assert(matched == 2000)
  }

  test("value columns that clash with left columns fail fast") {
    val probes = Seq((1L, 10L, 7L)).toDF("k", "t", "sv")
    val states = Seq((1L, 5L, 3L)).toDF("k", "st", "sv")
    val e = intercept[IllegalArgumentException](AsOfJoinNative.joinAsOf(
      probes, states, Seq("k"), "t", "st", Seq("st", "sv")))
    assert(e.getMessage.contains("as-of value columns sv are already left columns"),
      e.getMessage)
  }

  test("unused value columns are pruned through the custom node") {
    val probes = (1L to 50L).map(i => (i % 5, i)).toDF("k", "t")
    val states = (1L to 20L).map(i => (i % 5, i * 3, i, s"wide_$i"))
      .toDF("k", "st", "sv", "unused_wide")
    val df = AsOfJoinNative.joinAsOf(
        probes, states, Seq("k"), "t", "st", Seq("sv", "unused_wide"))
      .select("k", "t", "sv") // unused_wide never read
    val optimized = df.queryExecution.optimizedPlan
    val nodes = optimized.collect {
      case aj: graft.plans.AsOfJoinPlan => aj.rightValues.map(_.name) }
    assert(nodes.nonEmpty && nodes.head == Seq("sv"), optimized.toString)
    assert(df.count() == 50)
  }

  test("extreme key skew (60% of both sides on one key) streams with zero spill") {
    // One key holds 60% of BOTH sides — the shape that makes a buffering
    // join (or a union-and-carry window sort) hold the whole hot key in
    // memory. The merge exec holds O(1) state per partition (one copied
    // value row), so the hot partition must stream: total spill across
    // the native runs, one per direction, is asserted to be exactly zero.
    val sc = spark.sparkContext
    val n = 200000L
    def skewKey = when(col("id") % 5 < 3, lit(0L))
      .otherwise(pmod(col("id"), lit(96)) + 1)
    val probes = spark.range(n).select(skewKey.as("k"),
      ((col("id") * 7919L) % 1000000L).as("t"), col("id").as("payload"))
    val states = spark.range(n).select(skewKey.as("k"),
      ((col("id") * 104729L) % 1000000L).as("st"))
      .dropDuplicates("k", "st") // unique (key, time) ⇒ deterministic ties
      .withColumn("sv", col("k") * 1000000L + col("st"))
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.agg(count(lit(1)), count(col("sv")), sum(col("sv")), sum(col("st")))
        .collect()(0).toSeq
    // the reference's fingerprints first, listener-free
    val probeRows = probes.select("k", "t").as[(Long, Long)].collect()
    val ref = new AsOfReference(states.select("k", "st", "sv")
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (k, st, sv) => (Option(k), Option(st), sv) })
    val want = directions.map { d =>
      val ms = probeRows.flatMap { case (k, t) => ref(Some(k), Some(t), d) }
      Seq[Any](n, ms.length.toLong, ms.map(_._2).sum, ms.map(_._1).sum)
    }
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    sc.addSparkListener(listener)
    try {
      directions.zip(want).foreach { case (d, w) =>
        val native = fingerprint(AsOfJoinNative.joinAsOf(
          probes, states, Seq("k"), "t", "st", Seq("st", "sv"), direction = d))
        assert(native == w, s"skewed $d differential: $native vs $w")
      }
      org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(sc)
      assert(spilled.get() == 0L,
        s"skewed as-of merge spilled ${spilled.get()} bytes")
    } finally sc.removeSparkListener(listener)
  }

  test("plan shape: merge exec over two exchanges, no union blow-up") {
    val probes = (1L to 50L).map(i => (i % 5, i, i * 2)).toDF("k", "t", "p")
    val states = (1L to 20L).map(i => (i % 5, i * 3, i)).toDF("k", "st", "sv")
    val df = AsOfJoinNative.joinAsOf(
      probes, states, Seq("k"), "t", "st", Seq("sv"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), plan.take(1500)) // exec node prints sans "Exec"
    assert(!plan.contains("Union"), "must not plan via union-and-carry")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
           "each side shuffles exactly once:\n" + plan.take(1500))
  }
}
