package graft

import graft.plans.AsOfDirection.{Backward, Forward, Nearest}
import graft.plans.AsOfJoinNative

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("picks most recent state at-or-before; null when none") {
    val probes = Seq((1L, 10L), (1L, 20L), (1L, 5L), (2L, 100L))
      .toDF("k", "t")
    val states = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 200L, "z"))
      .toDF("k", "st", "v")
    val got = AsOfJoinNative.joinAsOf(probes, states, Seq("k"), "t", "st",
        Seq("v"), direction = Backward)
      .select("k", "t", "v").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(got == Set(
      (1L, 10L, Some("a")),   // tie: state AT probe time wins
      (1L, 20L, Some("b")),   // most recent earlier state
      (1L, 5L, None),         // nothing at-or-before
      (2L, 100L, None)))      // state exists but later
  }

  test("forward picks earliest state at-or-after; null when none") {
    val probes = Seq((1L, 10L), (1L, 20L), (1L, 5L), (2L, 300L))
      .toDF("k", "t")
    val states = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 200L, "z"))
      .toDF("k", "st", "v")
    val got = AsOfJoinNative.joinAsOf(
        probes, states, Seq("k"), "t", "st", Seq("v"), direction = Forward)
      .select("k", "t", "v").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(got == Set(
      (1L, 10L, Some("a")),   // tie: simultaneous state matches
      (1L, 20L, None),        // nothing at-or-after
      (1L, 5L, Some("a")),    // earliest later state
      (2L, 300L, None)))
  }

  test("nearest picks the closer state, ties backward; differential vs brute force") {
    val rnd = new scala.util.Random(3)
    val probes = (1 to 300).map(_ => ((rnd.nextInt(5) + 1).toLong,
      rnd.nextInt(1000).toLong)).distinct
    val states = (1 to 80).map(i => ((rnd.nextInt(5) + 1).toLong,
      rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(s => (s._1, s._2)).map(_._2.head).toSeq // unique (k, st)
    val got = AsOfJoinNative.joinAsOf(
        probes.toDF("k", "t"), states.toDF("k", "st", "v"),
        Seq("k"), "t", "st", Seq("st", "v"), direction = Nearest)
      .select("k", "t", "st").as[(Long, Long, Option[Long])]
      .collect().map { case (k, t, st) => ((k, t), st) }.toMap
    val ref = new AsOfReference(states.map { case (k, st, v) =>
      (Option(k), Option(st), v) })
    probes.foreach { case (k, t) =>
      val want = ref(Some(k), Some(t), Nearest).map(_._1)
      assert(got((k, t)) == want, s"probe ($k, $t)")
    }
  }
}
