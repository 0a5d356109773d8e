package graftbench

import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.retention.{Incremental, Protocol, RetentionConfig}
import graft.sources.KeyedUpsert

/** `retention_delta`: set-up builds the sink with a full run; each
  * operation is one delivery of ~1% new persons. The persons frame for
  * each delivery is first staged as its own parquet snapshot carrying
  * the sink's history: a frame that lazily joins `KeyedUpsert.read` of
  * the sink being upserted fails once the upsert swaps bucket files
  * (see perfbench/README.md). */
final class RetentionDelta(ctx: Ctx) extends Workload {
  import RetentionBench._
  private val spark = ctx.spark
  def roundSize: Int = 1

  private var dir = ""
  private var base: Population = _
  private var gen: Gen = _
  private var existing: IndexedSeq[Long] = IndexedSeq.empty
  private val delivered = mutable.ArrayBuffer[String]()
  private var want: Expected = _
  private var lastRefs: Map[Long, Seq[(Boolean, Long, Long)]] = Map.empty
  private def sink = s"$dir/sink"
  private def inputDirs = dir +: delivered.toSeq

  private def writePopulation(pop: Population, dir: String): Unit = {
    val persons = pop.persons.map(p =>
      Row(p.id, p.household.map(java.lang.Long.valueOf).orNull))
    val encounters = pop.persons.flatMap(p => p.days.map(d =>
      Row(p.id, java.sql.Date.valueOf(LocalDate.ofEpochDay(d.toLong)))))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(ctx.nproc, col("person_id"))
        .write.mode("overwrite").parquet(s"$dir/$name")
    write(persons, PersonsSchema, "persons")
    write(encounters, EncountersSchema, "encounters")
  }

  private def readPersons(dirs: Seq[String]): DataFrame =
    spark.read.schema(PersonsSchema).parquet(dirs.map(_ + "/persons"): _*)
  private def readEncounters(dirs: Seq[String]): DataFrame =
    spark.read.schema(EncountersSchema).parquet(dirs.map(_ + "/encounters"): _*)

  /** Expected history per sampled person: every pending member of a
    * sampled household gets the ranges that the plain-Scala reference
    * derives from the admit days of the household's pending members. */
  private def referenceSample(pending: Population, n: Int,
                                rng: scala.util.Random): Map[Long, Seq[(Boolean, Long, Long)]] = {
    val hh = pending.byHousehold.keys.toIndexedSeq.sorted
    val biggest = pending.byHousehold.maxBy(_._2.size)._1
    val picked = (rng.shuffle(hh).take(n) :+ biggest).distinct
    picked.flatMap { h =>
      val members = pending.byHousehold(h)
      val ranges = reference(members.flatMap(_.days))
      members.map(_.id -> ranges)
    }.toMap
  }

  /** The three output checks, as (check, problem) pairs; empty when
    * the sink is right:
    *  - "rows": exactly one sink row per expected person (row count,
    *    distinct count and a sum fingerprint of the ids);
    *  - "tiling": each person's ranges tile the 49-month spine with
    *    alternating `retained`;
    *  - "reference": sampled persons match the plain-Scala reference. */
  private def checkSink(sink: DataFrame, want: Expected,
                          refs: Map[Long, Seq[(Boolean, Long, Long)]]): Seq[(String, String)] = {
    val problems = mutable.ArrayBuffer[(String, String)]()
    val flat = sink.select(col("person_id"),
      col("household_retention_history.retained").as("r"),
      col("household_retention_history.date_range.gte").as("g"),
      col("household_retention_history.date_range.lte").as("l")).cache()
    val tilesUdf = udf((r: Seq[Boolean], g: Seq[Long], l: Seq[Long]) =>
      tiles(ranges(r, g, l)))
    val agg = flat.agg(count(lit(1)), count_distinct(col("person_id")),
      sum(col("person_id")), sum(col("person_id") * col("person_id")),
      sum(when(tilesUdf(col("r"), col("g"), col("l")), 0).otherwise(1))).head()
    val got = Expected(agg.getLong(0), agg.getLong(2), agg.getLong(3))
    if (got != want || agg.getLong(1) != got.n)
      problems += "rows" -> s"got $got with ${agg.getLong(1)} distinct, expected $want"
    if (agg.getLong(4) != 0)
      problems += "tiling" -> s"${agg.getLong(4)} persons whose ranges do not tile the spine"
    val sample = flat.filter(col("person_id").isin(refs.keys.toSeq.map(java.lang.Long.valueOf): _*))
      .collect().map(r => r.getLong(0) ->
        ranges(r.getSeq[Boolean](1), r.getSeq[Long](2), r.getSeq[Long](3))).toMap
    val wrong = refs.count { case (p, want) => !sample.get(p).contains(want) }
    if (wrong != 0)
      problems += "reference" -> s"$wrong of ${refs.size} sampled persons differ from the reference"
    flat.unpersist()
    problems.toSeq
  }

  /** A tampered copy of a checked sink — one sampled person dropped,
    * another duplicated, a third with its first range's `retained`
    * flipped — must fail all three checks. */
  private def tamperTest(sink: DataFrame, want: Expected,
                           refs: Map[Long, Seq[(Boolean, Long, Long)]]): Seq[(String, Boolean)] = {
    val ids = refs.keys.toSeq.sorted
    val flip = ids.find(p => refs(p).size > 1).getOrElse(ids.head)
    val Seq(drop, dup) = ids.filter(_ != flip).take(2)
    val tampered = sink.filter(col("person_id") =!= drop)
      .unionByName(sink.filter(col("person_id") === dup))
      .withColumn("household_retention_history",
        when(col("person_id") === flip, transform(col("household_retention_history"),
          (e, i) => when(i === 0, e.withField("retained", !e.getField("retained")))
            .otherwise(e))).otherwise(col("household_retention_history")))
    val caught = checkSink(tampered, want, refs).map(_._1).toSet
    Seq("rows", "tiling", "reference").map(c => s"tampered_sink_fails_$c" -> caught(c))
  }

  /** Times one Protocol.run, then checks what it reported and the sink
    * it left. */
  private def timedRun(kind: String, persons: DataFrame, encounters: DataFrame,
                         sink: String, pending: Long, want: Expected,
                         refs: Map[Long, Seq[(Boolean, Long, Long)]]): OpResult = {
    val (n, lat, cpu) = Measure(ctx.span("Protocol.run") {
      Protocol.run(spark, persons, encounters, Cfg, sink)
    })
    n match {
      case Left(err) => OpResult(kind, lat, cpu, ok = false, note = err)
      case Right(written) =>
        val c0 = System.nanoTime()
        val problems = checkedSink(sink, want, refs) ++
          (if (written != pending) Seq(s"run reported $written of $pending persons") else Nil)
        OpResult(kind, lat, cpu, problems.isEmpty, written, problems.mkString("; "),
          (System.nanoTime() - c0) / 1e9)
    }
  }

  /** The problems `checkSink` finds in the sink at `path`; a sink that
    * cannot be read is one too. */
  private def checkedSink(path: String, want: Expected,
                            refs: Map[Long, Seq[(Boolean, Long, Long)]]): Seq[String] =
    try checkSink(KeyedUpsert.read(spark, path), want, refs).map(_._2)
    catch { case e: Exception => Seq(s"sink unreadable: ${e.toString.take(300)}") }

  private def sinkBytes(sink: String): Long = ctx.dirBytes(sink)

  private def populationReport(pop: Population): Map[String, Any] = {
    val hh = pop.byHousehold
    val silent = hh.count(_._2.forall(_.days.isEmpty))
    val scanLo = Cfg.asOf.minusYears(Cfg.scanYears.toLong).toEpochDay
    val scanHi = Cfg.asOf.toEpochDay
    val days = pop.persons.iterator.flatMap(_.days.iterator)
    var inScan = 0L; var total = 0L
    days.foreach { d => total += 1; if (d >= scanLo && d <= scanHi) inScan += 1 }
    Json.obj(
      "persons" -> pop.persons.size,
      "encounters" -> pop.encounters,
      "households" -> hh.size,
      "largest_household" -> (if (hh.isEmpty) 0 else hh.values.map(_.size).max),
      "households_over_1000" -> hh.count(_._2.size > 1000),
      "null_household_share" -> (1.0 - pop.withHousehold.toDouble / pop.persons.size),
      "silent_household_share" -> silent.toDouble / math.max(1, hh.size),
      "admits_in_scan_share" -> inScan.toDouble / math.max(1L, total),
      "max_encounters_per_person" -> pop.persons.map(_.days.length).max
    ).toMap
  }

  def setupRound(round: Int): Option[String] = {
    if (dir.nonEmpty) ctx.deleteTree(dir)
    dir = ctx.path(s"delta_setup$round")
    delivered.clear()
    gen = new Gen(ctx.seed, Cfg.asOf)
    base = gen.population(Persons, HotHouseholds, HotSize)
    existing = base.byHousehold.filter(_._2.size < 100).keys.toIndexedSeq.sorted
    writePopulation(base, dir)
    want = Expected.of(base)
    try {
      val written = Protocol.run(spark, readPersons(Seq(dir)), readEncounters(Seq(dir)), Cfg, sink)
      if (written != want.n) Some(s"run reported $written of ${want.n} persons") else None
    } catch { case e: Exception => Some(e.toString.take(300)) }
  }

  /** The full run's sink, against the whole base population, with the
    * reference sample including the largest (hot) household. */
  override def checkSetup(): Option[String] = {
    val problems = checkedSink(sink, want,
      referenceSample(base, SampleHouseholds, new scala.util.Random(ctx.seed)))
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def op(i: Int): OpResult = {
    val d = gen.delivery(DeliveryPersons, existing)
    val ddir = s"$dir/delivery$i"
    writePopulation(d, ddir)
    delivered += ddir
    val snapshot = s"$dir/snapshot$i"
    ctx.span("stage_snapshot") {
      readPersons(inputDirs)
        .join(KeyedUpsert.read(spark, sink)
          .select("person_id", "household_retention_history"), Seq("person_id"), "left")
        .write.mode("overwrite").parquet(snapshot)
    }
    want = want + Expected.of(d)
    lastRefs = referenceSample(d, SampleHouseholds, new scala.util.Random(ctx.seed + i))
    val r = timedRun("delivery", spark.read.parquet(snapshot), readEncounters(inputDirs), sink,
      Expected.of(d).n, want, lastRefs)
    ctx.deleteTree(snapshot)
    r
  }

  override def sinkBytesPerPerson: Double = sinkBytes(sink).toDouble / want.n

  def report(): Map[String, Any] = Json.obj(
    "inputs" -> populationReport(base),
    "deliveries" -> delivered.size,
    "delivery_persons" -> DeliveryPersons,
    "input_bytes" -> inputDirs.map(p => ctx.dirBytes(p + "/persons") + ctx.dirBytes(p + "/encounters")).sum,
    "sink_bytes" -> sinkBytes(sink),
    "sink_persons" -> want.n,
    "sink_bytes_per_person" -> sinkBytesPerPerson).toMap

  def selfTest(): Seq[(String, Boolean)] =
    tamperTest(KeyedUpsert.read(spark, sink), want, lastRefs)
}

/** What a correct sink holds: the person count and two sums over the
  * person ids, a fingerprint of the id set. */
final case class Expected(n: Long, idSum: Long, idSquares: Long) {
  def +(o: Expected): Expected = Expected(n + o.n, idSum + o.idSum, idSquares + o.idSquares)
}

object Expected {
  /** The persons a run over `pop` must write: those with a household. */
  def of(pop: Population): Expected = {
    val ids = pop.persons.filter(_.household.isDefined).map(_.id)
    Expected(ids.size.toLong, ids.sum, ids.map(i => i * i).sum)
  }
}

object RetentionBench {
  val Cfg: RetentionConfig = RetentionConfig(asOf = LocalDate.of(2025, 6, 15))
  val Persons = 20000
  val HotHouseholds = 2
  val HotSize = 1500
  val DeliveryPersons = 200
  val SampleHouseholds = 30

  val PersonsSchema: StructType = StructType(Seq(
    StructField("person_id", LongType, nullable = false),
    StructField("household_id", LongType, nullable = true)))
  val EncountersSchema: StructType = StructType(Seq(
    StructField("person_id", LongType, nullable = false),
    StructField("admit_date", DateType, nullable = false)))

  private def ms(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000
  private val spineStart = Cfg.asOf.withDayOfMonth(1).minusMonths(Cfg.windowMonths.toLong)
  private val spineEnd = Cfg.asOf.withDayOfMonth(1).plusMonths(1)
  val SpineStartMs: Long = ms(spineStart)
  val SpineEndMs: Long = ms(spineEnd) - 1000

  /** Incremental.rangesFor over the distinct sorted days, in the sink's
    * (retained, gte, lte) millisecond form. */
  def reference(days: Seq[Int]): Seq[(Boolean, Long, Long)] =
    Incremental.rangesFor(days.distinct.sorted, Cfg).map { case (r, s, e) =>
      (r, ms(s), ms(e.plusMonths(1)) - 1000)
    }

  def ranges(rs: Seq[Boolean], gs: Seq[Long], ls: Seq[Long]): Seq[(Boolean, Long, Long)] =
    rs.indices.map(i => (rs(i), gs(i), ls(i))).sortBy(_._2)

  /** Ranges cover the 49-month spine end to end, without gaps or
    * overlaps, and consecutive ranges alternate `retained`. */
  def tiles(rs: Seq[(Boolean, Long, Long)]): Boolean =
    rs.nonEmpty && rs.head._2 == SpineStartMs && rs.last._3 == SpineEndMs &&
      rs.sliding(2).forall {
        case Seq(a, b) => b._2 == a._3 + 1000 && a._1 != b._1
        case _ => true
      }
}
