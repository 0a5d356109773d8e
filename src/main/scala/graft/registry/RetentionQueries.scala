package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.retention.{EventsAdapter, Retention, StarAdapter}
import QueryHelpers._

/** Retention query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object RetentionQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- retention pipeline (flagship + staged parity) ----
    "q_retention_flagship" -> ((s, dir) => retentionFlagship(s, dir)),
    "q_retention_collapsed" -> ((s, dir) =>
      retentionCore(s, dir).householdRanges),
    // scanYears=1 so the "household with no qualifying encounters"
    // branch actually fires on this dataset (every customer has orders
    // inside the default 5y window — the branch would be vacuous).
    "q_retention_phase2" -> ((s, dir) =>
      Retention.phase2Ranges(
        StarAdapter.persons(s, dir), StarAdapter.encounters(s, dir),
        StarAdapter.config(s, dir).copy(scanYears = 1))),
    // client_code tenant isolation (P5): same pipeline scoped to one
    // market segment's persons.
    "q_retention_tenant" -> ((s, dir) =>
      Retention.fullHistory(
        StarAdapter.personsForTenant(s, dir, "BUILDING"),
        StarAdapter.encounters(s, dir),
        StarAdapter.config(s, dir))),
    // second source instantiation: events stream as encounters
    "q_retention_events" -> ((s, dir) =>
      Retention.fullHistory(
        EventsAdapter.persons(s, dir), EventsAdapter.encounters(s, dir),
        EventsAdapter.config(s, dir))),
    "q_retention_nested" -> ((s, dir) =>
      // A7 array-of-struct shape, stringified so the oracle compare is
      // order-stable across engines.
      retentionCore(s, dir).fullHistory
        .select(col("person_id"),
                concat_ws(",", col("gte"), col("lte"), col("start_date"),
                          col("end_date"), col("retained")).as("h"))
        .groupBy("person_id")
        .agg(concat_ws("|", array_sort(collect_list(col("h"))))
          .as("history"))),
    // ---- count gates (A6/A8: the reference's hits.total probes) ----
    "q_count_gate" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .agg(count(lit(1)).as("n_persons"),
             countDistinct(col("c_nationkey")).as("n_households"),
             count(when(col("c_acctbal") > 0, 1)).as("n_positive_bal"))),

    // ---- month spine standalone (S6) + reference band join (J3) ----
    "q_month_spine" -> ((s, dir) =>
      graft.operators.MonthSpine.spine(
        s, StarAdapter.asOf(s, dir), 48)),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_retention_flagship" -> (retentionCteFor(5) + """
      SELECT person_id, household_id, retained, gte, lte, start_date, end_date FROM phase1
    """),
    "q_retention_collapsed" -> (retentionCteFor(5) + """
      SELECT household_id, retained, gte, lte, start_date, end_date FROM ranges
    """),
    "q_retention_phase2" -> (retentionCteFor(1) + """
      SELECT household_id, retained, gte, lte, start_date, end_date, person_id FROM phase2
    """),
    "q_retention_tenant" -> (retentionCteFor(5, "c_mktsegment = 'BUILDING'") + """
      SELECT person_id, household_id, retained, gte, lte, start_date, end_date FROM phase1
    """),
    "q_retention_events" -> (eventsHead(5) + retentionTail(7, 2) + """
      SELECT person_id, household_id, retained, gte, lte, start_date, end_date FROM phase1
    """),
    "q_retention_nested" -> (retentionCteFor(5) + """
      , full_hist AS (
        SELECT person_id, household_id, retained, gte, lte, start_date, end_date FROM phase1
      )
      SELECT person_id,
             string_agg(concat_ws(',', gte, lte, start_date, end_date, retained),
                        '|' ORDER BY concat_ws(',', gte, lte, start_date, end_date, retained))
               AS history
      FROM full_hist GROUP BY person_id
    """),
    "q_count_gate" -> """
      SELECT count(*) AS n_persons,
             count(DISTINCT c_nationkey) AS n_households,
             count(*) FILTER (c_acctbal > 0) AS n_positive_bal
      FROM customer
    """,
    "q_month_spine" -> """
      WITH anchor AS (SELECT date_trunc('month', max(o_orderdate))::DATE AS m
                      FROM orders)
      SELECT unnest(generate_series((m - INTERVAL 48 MONTH)::TIMESTAMP,
                                    m::TIMESTAMP, INTERVAL 1 MONTH))::DATE
               AS start_of_month
      FROM anchor
    """,
  )
}
