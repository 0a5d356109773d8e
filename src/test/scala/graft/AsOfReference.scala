package graft

import scala.collection.Searching.{Found, InsertionPoint}

import graft.plans.AsOfDirection
import graft.plans.AsOfDirection.{Backward, Forward, Nearest}

/** Plain-Scala as-of join for the specs to compare against: for one
  * probe, the state that `direction` matches among `states` of
  * (key, time, value), found by binary search in the key's
  * time-sorted states. A `None` key or time never matches, on either
  * side. Assumes unique (key, time) states, which is how the specs make
  * ties deterministic. */
final class AsOfReference[V](states: Seq[(Option[Long], Option[Long], V)]) {
  private val byKey: Map[Long, (IndexedSeq[Long], IndexedSeq[V])] =
    states.collect { case (Some(k), Some(t), v) => (k, t, v) }
      .groupBy(_._1).map { case (k, kvs) =>
        val sorted = kvs.sortBy(_._2).toIndexedSeq
        k -> (sorted.map(_._2), sorted.map(_._3))
      }

  /** The matched state's (time, value), or None when nothing matches
    * or the match is farther than `tolerance` from the probe. */
  def apply(k: Option[Long], t: Option[Long], direction: AsOfDirection,
            tolerance: Option[Long] = None): Option[(Long, V)] = for {
    key <- k
    time <- t
    (times, vals) <- byKey.get(key)
    i <- pick(times, time, direction)
    if tolerance.forall(math.abs(time - times(i)) <= _)
  } yield (times(i), vals(i))

  private def pick(times: IndexedSeq[Long], t: Long,
                   direction: AsOfDirection): Option[Int] = {
    val (atOrBefore, atOrAfter) = times.search(t) match {
      case Found(i) => (Some(i), Some(i))
      case InsertionPoint(i) =>
        (Some(i - 1).filter(_ >= 0), Some(i).filter(_ < times.length))
    }
    direction match {
      case Backward => atOrBefore
      case Forward => atOrAfter
      // distance first; a tie goes backward (at-or-before beats after)
      case Nearest => (atOrBefore ++ atOrAfter).minByOption(i =>
        (math.abs(times(i) - t), if (times(i) <= t) 0 else 1))
    }
  }
}
