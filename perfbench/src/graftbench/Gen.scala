package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated person: `household` is None for the NULL-household
  * share; `days` are admit dates as epoch days (unsorted, may repeat). */
final case class GenPerson(id: Long, household: Option[Long], days: Array[Int])

/** A generated population plus the properties a reader needs to check
  * that the inputs have the intended shape. */
final case class Population(persons: IndexedSeq[GenPerson]) {
  lazy val byHousehold: Map[Long, IndexedSeq[GenPerson]] =
    persons.filter(_.household.isDefined).groupBy(_.household.get)
  def encounters: Long = persons.iterator.map(_.days.length.toLong).sum
  def withHousehold: Int = persons.count(_.household.isDefined)
}

/** Seeded generator for the retention inputs
  * `persons(person_id, household_id)` and `encounters(person_id,
  * admit_date)`. The same seed always yields the same rows.
  *
  * Shape, chosen to exercise the paths the retention job has:
  *  - household sizes are mostly 1-4 members, plus a few hot households
  *    of thousands (the skewed keys of the household join);
  *  - ~2% of persons have a NULL household_id (never processed);
  *  - ~10% of households have no encounters at all (the whole-spine
  *    not-retained range): 6% drawn as silent, the rest are small
  *    households whose members all drew zero encounters;
  *  - encounters per person are heavy-tailed (log-normal, capped);
  *  - admit dates fall inside and outside the scan window, and ~10% of
  *    consecutive gaps sit within two days of the 365-day lookback.
  */
final class Gen(seed: Long, val asOf: LocalDate) {
  private val rng = new SplittableRandom(seed)
  private var nextPerson = 1L
  private var nextHousehold = 1L

  val NullHouseholdShare = 0.02
  val SilentHouseholdShare = 0.06

  private def householdSize(): Int = {
    val u = rng.nextDouble()
    if (u < 0.40) 1 else if (u < 0.70) 2 else if (u < 0.88) 3
    else if (u < 0.97) 4 else 5 + rng.nextInt(4)
  }

  private def encounterCount(): Int = {
    val z = rng.nextGaussian()
    math.min(300, math.exp(1.4 + 1.0 * z).toInt)
  }

  /** Admit days for one person: a start day spread over seven years
    * before asOf to two months after it, then gaps drawn from a mix
    * that puts some of them right at the lookback boundary. */
  private def admitDays(n: Int): Array[Int] = {
    val end = asOf.toEpochDay.toInt + 60
    val start = asOf.minusYears(7).toEpochDay.toInt
    var d = start + rng.nextInt(end - start)
    Array.fill(n) {
      val cur = d
      val u = rng.nextDouble()
      val gap =
        if (u < 0.45) 1 + rng.nextInt(60)
        else if (u < 0.75) 60 + rng.nextInt(240)
        else if (u < 0.85) 363 + rng.nextInt(5) // 363..367: lookback edge
        else 400 + rng.nextInt(600)
      d = if (d + gap > end) start + rng.nextInt(end - start) else d + gap
      cur
    }
  }

  private def person(household: Option[Long], silent: Boolean): GenPerson = {
    val id = nextPerson; nextPerson += 1
    val hh = if (rng.nextDouble() < NullHouseholdShare) None else household
    GenPerson(id, hh, if (silent) Array.emptyIntArray else admitDays(encounterCount()))
  }

  private def household(size: Int): IndexedSeq[GenPerson] = {
    val hh = nextHousehold; nextHousehold += 1
    val silent = rng.nextDouble() < SilentHouseholdShare
    (0 until size).map(_ => person(Some(hh), silent))
  }

  /** About `n` persons; `hot` households of `hotSize` ±50% members. */
  def population(n: Int, hot: Int, hotSize: Int): Population = {
    val out = ArrayBuffer[GenPerson]()
    (0 until hot).foreach { _ =>
      out ++= household(hotSize / 2 + rng.nextInt(hotSize + 1))
    }
    while (out.size < n) out ++= household(householdSize())
    Population(out.toIndexedSeq)
  }

  /** A delivery of about `n` new persons: half join households drawn
    * from `existing` (hot ones excluded), half form new households. */
  def delivery(n: Int, existing: IndexedSeq[Long]): Population = {
    val out = ArrayBuffer[GenPerson]()
    while (out.size < n) {
      if (rng.nextBoolean() && existing.nonEmpty)
        out += person(Some(existing(rng.nextInt(existing.size))), silent = false)
      else out ++= household(1 + rng.nextInt(3))
    }
    Population(out.toIndexedSeq)
  }
}
