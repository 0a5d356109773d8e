package graft.retention

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{GapsAndIslands, MonthSpine}

/** Retention-pipeline configuration — the reference's fixed constants
  * (reference HouseholdRetentionProcessing.scala:486-489 window, :513
  * lookback, :361 scan, :752-760 phase-2 bounds) lifted into a config so
  * the engine is a library, not a one-off job.
  *
  * `asOf` replaces the reference's wall-clock `now` anchors (:486, :556,
  * :753) with an injected date so results are deterministic and
  * oracle-checkable (SURVEY.md §7.4).
  */
case class RetentionConfig(
    asOf: LocalDate,
    windowMonths: Int = 48,
    lookbackDays: Int = 365, // date_add(admit, -365.25) truncates to 365 (:513)
    scanYears: Int = 5,      // encounter scan lookback (:361)
    notRetainedPastYears: Int = 4,   // phase-2 range start (:753)
    notRetainedFutureYears: Int = 10 // phase-2 range end (:755)
)

/** Household retention engine — the reference's flagship capability
  * rebuilt Spark-first.
  *
  * Inputs are two relational tables (SURVEY.md §1.3):
  *   persons(person_id, household_id)        — household_id nullable
  *   encounters(person_id, admit_date DATE)
  *
  * Semantics (reference HouseholdRetentionProcessing.scala:525-534): a
  * household is retained in calendar month M iff it had an encounter in
  * M with another, strictly earlier encounter within the preceding
  * `lookbackDays`. Months with no such pair are not-retained via a
  * person×month scaffold (the `all` CTE, :517-524) — built from the
  * PERSON source, so households with no encounters at all are still
  * scaffolded and collapse to a single not-retained range spanning the
  * whole spine. Consecutive same-state months collapse into ranges
  * (:557-590). Phase 2 (:762-784) is a between-runs safety net: any
  * person STILL lacking history when it runs (phase 1 covers everyone
  * pending in a complete run) gets the constant not-retained range
  * [asOf-4y, asOf+10y) — see `phase2Ranges` and `Protocol.run`.
  *
  * Scale shape: after the person⋈encounter join, EVERYTHING is keyed by
  * household_id — the distinct, the predecessor window, the month
  * scaffold join, the islands collapse, and the person fan-out all
  * cluster on household, so Catalyst reuses one hash-partitioning end
  * to end (subset-satisfies-clustering). The month spine is a 49-row
  * local relation (broadcast nested loop for the scaffold). Skewed
  * households are handled by AQE skew-join splitting on the single big
  * join.
  */
object Retention {

  /** Persons with a household — the shared person projection. NO
    * explicit repartition here, deliberately: the two consumers want
    * different physical placements (the scaffold's distinct shuffles
    * only household_id after column pruning; the fan-out join is
    * broadcast at small scale and SMJ-with-exchange at large), and a
    * forced repartition was measured to ADD a wasted exchange under
    * the broadcast plan while ReuseExchange can't share the two
    * shuffles anyway (pruning makes their payloads differ). Only the
    * admits subtree pins an explicit household repartition — that one
    * aligns a whole operator chain (see householdAdmitDates). */
  private[retention] def personsByHousehold(persons: DataFrame): DataFrame =
    persons.filter(col("household_id").isNotNull)
      .select("person_id", "household_id")

  /** Distinct (household_id, admit_date) pairs inside the scan window.
    * The reference's A1 dedup (:515) — admit_date at DATE grain, so
    * same-day repeat encounters never count as "another, earlier"
    * encounter (strict `>` at :530).
    */
  def householdAdmitDates(persons: DataFrame, encounters: DataFrame,
                          cfg: RetentionConfig): DataFrame = {
    val scanStart = java.sql.Date.valueOf(cfg.asOf.minusYears(cfg.scanYears.toLong))
    val asOfDate = java.sql.Date.valueOf(cfg.asOf)
    val p = personsByHousehold(persons)
    val e = encounters
      .filter(col("admit_date").between(lit(scanStart), lit(asOfDate)))
      .select("person_id", "admit_date")
    // person⋈encounter (J1), then ONE explicit repartition pins the
    // household hash-partitioning that every downstream operator
    // (distinct, predecessor window, per-household aggregation, islands
    // collapse) satisfies via the subset-clustering rule — without it,
    // EnsureRequirements inserts separate (household,admit) /
    // (household,month) exchanges at each step.
    e.join(p, "person_id")
      .select("household_id", "admit_date")
      .repartition(col("household_id"))
      .distinct()
  }

  /** household × month scaffold (J2/A2, :517-524) with the retained
    * flag (J4/P10 semantics, :539-541).
    *
    * The scaffold's household universe comes from the PERSON source —
    * the reference's `all` CTE cross-joins personsES (every pending
    * person, :518-523), not the encounter join — so a household with no
    * encounters in the window still gets a full spine of not-retained
    * months (and phase 1 writes its single collapsed range).
    *
    * Shape: admits collapse to ONE row per household carrying its
    * retained-month set (≤ windowMonths+1 entries, collect_set skips
    * the null non-retained markers); persons' distinct households
    * left-join that set (both sides hash-clustered on household_id —
    * one aligned shuffle each); then the 49-row broadcast spine
    * multiplies rows and `array_contains` supplies the flag
    * (null set ⇒ false via coalesce). A month is retained by the
    * reference's self band-join J3 (:529-532) as a per-household `lag`:
    * with distinct dates, "exists a strictly earlier admit within N
    * days" is exactly "the nearest earlier admit is within N days" —
    * one window pass instead of a self-join. Compared to the direct
    * scaffold-left-join transcription this consumes the admits subtree
    * once instead of twice (households branch + retained branch were
    * two physical copies of the same scan/join) — at 100 TB that
    * removes a duplicate pass over the encounter table and two
    * scaffold-sized shuffles.
    */
  private[retention] def monthStates(persons: DataFrame, encounters: DataFrame,
                                     cfg: RetentionConfig): DataFrame = {
    val spark = persons.sparkSession
    val admits = householdAdmitDates(persons, encounters, cfg)
    val w = Window.partitionBy("household_id").orderBy("admit_date")
    val hhMonths = admits
      .withColumn("_prev", lag(col("admit_date"), 1).over(w))
      .groupBy("household_id")
      .agg(collect_set(
        when(col("_prev") >= date_add(col("admit_date"), -cfg.lookbackDays),
             trunc(col("admit_date"), "MM"))).as("_retained_months"))
    val households = personsByHousehold(persons)
      .select("household_id").distinct()
    val spine = MonthSpine.spine(spark, cfg.asOf, cfg.windowMonths)
    households
      .join(hhMonths, Seq("household_id"), "left")
      .crossJoin(broadcast(spine))
      .select(col("household_id"), col("start_of_month"),
              coalesce(
                array_contains(col("_retained_months"), col("start_of_month")),
                lit(false)).as("is_retained"))
  }

  /** Phase-1 collapsed ranges per household. Range formatting follows
    * the reference exactly (:567-574): start = first second of the
    * first month, end = LAST second of the last month
    * (`unix_timestamp(add_months(m,1)) - 1`), epochs in millis,
    * alt-strings 'yyyy-MM-dd' / 'yyyy-MM-dd HH:mm:ss'.
    */
  def householdRanges(persons: DataFrame, encounters: DataFrame,
                      cfg: RetentionConfig): DataFrame = {
    val states = monthStates(persons, encounters, cfg)
    val collapsed = GapsAndIslands.collapse(
      states, Seq("household_id"), "start_of_month", "is_retained")
    formatRanges(collapsed)
  }

  private def formatRanges(collapsed: DataFrame): DataFrame = {
    val startTs = col("range_start").cast("timestamp")
    val endSec = unix_timestamp(add_months(col("range_end"), 1).cast("timestamp")) - 1
    collapsed.select(
      col("household_id"),
      col("is_retained").as("retained"),
      (unix_timestamp(startTs) * 1000).as("gte"),
      (endSec * 1000).as("lte"),
      date_format(startTs, "yyyy-MM-dd").as("start_date"),
      from_unixtime(endSec, "yyyy-MM-dd HH:mm:ss").as("end_date"))
  }

  /** Phase 1 complete: ranges fanned out to persons (J7, :617). */
  def personRanges(persons: DataFrame, encounters: DataFrame,
                   cfg: RetentionConfig): DataFrame = {
    val p = personsByHousehold(persons)
    householdRanges(persons, encounters, cfg).join(p, "household_id")
  }

  /** Phase 2 (:762-784): the between-runs safety net. The reference's
    * phase-2 builder (:769-779) hands a constant retained=false range
    * [asOf-4y, asOf+10y) to every person still lacking history when it
    * runs; in a complete run phase 1 covers all pending persons (its
    * scaffold includes encounter-less households — see `monthStates`),
    * so this fires only for persons that appeared between phases or
    * were left behind by an interrupted run (`Protocol.run` wires it
    * that way). This standalone form models the pending set as
    * "household had no qualifying encounters in the scan window" via
    * anti-join — the P8/J10 predicate relative to a phase-1 run over
    * households with encounters.
    */
  def phase2Ranges(persons: DataFrame, encounters: DataFrame,
                   cfg: RetentionConfig): DataFrame = {
    val covered = householdAdmitDates(persons, encounters, cfg)
      .select("household_id").distinct()
    val gteMs = cfg.asOf.withDayOfMonth(1).minusYears(cfg.notRetainedPastYears.toLong)
    val lteMs = cfg.asOf.withDayOfMonth(1).plusYears(cfg.notRetainedFutureYears.toLong)
    personsByHousehold(persons)
      .join(covered, Seq("household_id"), "left_anti")
      .select(
        col("household_id"),
        lit(false).as("retained"),
        lit(java.sql.Date.valueOf(gteMs)).cast("timestamp").cast("long").*(1000).as("gte"),
        lit(java.sql.Date.valueOf(lteMs)).cast("timestamp").cast("long").*(1000).as("lte"),
        date_format(lit(java.sql.Date.valueOf(gteMs)), "yyyy-MM-dd").as("start_date"),
        date_format(lit(java.sql.Date.valueOf(lteMs)).cast("timestamp"),
                    "yyyy-MM-dd HH:mm:ss").as("end_date"),
        col("person_id"))
  }

  /** Complete-run history — one row per (person, range): what the
    * reference upserts back into ES over a full `main` run (S7).
    *
    * Because the phase-1 scaffold covers EVERY pending person's
    * household (including encounter-less ones — reference `all` CTE,
    * :517-524), a complete run's output is exactly phase 1 fanned out
    * to persons; phase 2's count gate then finds nothing pending
    * (:795). So this is one inner join of persons against the
    * household-level ranges — no union, no second evaluation of the
    * person⋈encounter subtree.
    */
  def fullHistory(persons: DataFrame, encounters: DataFrame,
                  cfg: RetentionConfig): DataFrame = {
    val hh = householdRanges(persons, encounters, cfg)
    val p = personsByHousehold(persons)
    p.join(hh, Seq("household_id"))
      .select(col("person_id"), col("household_id"), col("retained"),
              col("gte"), col("lte"), col("start_date"), col("end_date"))
  }

  /** Reshape flat (person, range) rows into the reference's EXACT
    * output shape (S7/A7, :281-295 case classes :264-276):
    * `household_retention_history: ARRAY<STRUCT<date_range:
    * STRUCT<gte: BIGINT, lte: BIGINT>, date_range_alt: STRUCT<gte:
    * STRING, lte: STRING>, retained: BOOLEAN>>` — one row per person.
    * `collect_list` is bounded here (≤ windowMonths+1 entries per
    * person), sorted in-array for determinism (the reference's array
    * order is ES-iteration-dependent; sorted is the deliberate
    * refinement, docs/SEMANTICS.md). */
  def nestRanges(ranges: DataFrame): DataFrame =
    ranges.groupBy("person_id")
      .agg(array_sort(collect_list(struct(
        struct(col("gte"), col("lte")).as("date_range"),
        struct(col("start_date").as("gte"), col("end_date").as("lte"))
          .as("date_range_alt"),
        col("retained")))).as("household_retention_history"))

  /** Both phases, nested per person. */
  def nestedHistory(persons: DataFrame, encounters: DataFrame,
                    cfg: RetentionConfig): DataFrame =
    nestRanges(fullHistory(persons, encounters, cfg))
}

/** Shared-stage handle over one retention run: the household-level
  * collapsed ranges are computed once, Spark-cached on first action,
  * and served to every consumer shape (collapsed ranges, flat
  * per-person history, nested array-of-struct). A session that
  * materializes several retention views — the reference job reads the
  * result back for its phase-2 gate after writing it
  * (HouseholdRetentionProcessing.scala:786-795), and any analytics
  * consumer does the same — would otherwise re-evaluate the
  * person⋈encounter subtree (the dominant cost: scan + join + window +
  * collapse) once per view.
  *
  * Scale shape: the cached stage is household-grain AFTER the islands
  * collapse, i.e. ≤ #households × (windowMonths+1) rows and usually
  * far fewer — it SHRINKS relative to the inputs, so at 1000× data it
  * is still a few GB across the cluster (MEMORY_AND_DISK spills
  * harmlessly if not). Consumers re-join persons per view; that join
  * stays broadcast/SMJ as appropriate and never re-reads encounters.
  */
final class RetentionCore(persons: DataFrame, encounters: DataFrame,
                          cfg: RetentionConfig) {
  /** Household-level collapsed ranges, cached at first materialization. */
  lazy val householdRanges: DataFrame =
    Retention.householdRanges(persons, encounters, cfg).cache()

  /** Flat (person, range) rows — identical shape to
    * [[Retention.fullHistory]], served from the cached stage. */
  def fullHistory: DataFrame =
    Retention.personsByHousehold(persons)
      .join(householdRanges, Seq("household_id"))
      .select(col("person_id"), col("household_id"), col("retained"),
              col("gte"), col("lte"), col("start_date"), col("end_date"))

  /** Nested per-person history, served from the cached stage. */
  def nestedHistory: DataFrame = Retention.nestRanges(fullHistory)

  /** Drop the cached stage (e.g. before reprocessing with new data). */
  def uncache(): Unit = householdRanges.unpersist()
}
