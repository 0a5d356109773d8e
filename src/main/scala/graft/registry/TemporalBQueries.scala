package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object TemporalBQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- supervised feature/label windowing: per (user, day), counts
    //      of each behavior over the trailing 7 days and a
    //      purchase-in-next-7-days label — the canonical propensity
    //      training table. RANGE frames over the integer day key, so
    //      gaps in activity are handled by the frame, not by a spine
    //      join ----
    "q_label_windows" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"),
          expr("ts_ns div 86400000000000").as("day"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("clicks"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchases"))
      val past = Window.partitionBy("user_id").orderBy("day")
        .rangeBetween(-7, -1)
      val future = Window.partitionBy("user_id").orderBy("day")
        .rangeBetween(1, 7)
      daily
        .withColumn("clicks_7d", coalesce(sum("clicks").over(past), lit(0L)))
        .withColumn("views_7d", coalesce(sum("views").over(past), lit(0L)))
        .withColumn("label", when(
          coalesce(sum("purchases").over(future), lit(0L)) > 0, 1L)
          .otherwise(0L))
        .select("user_id", "day", "clicks_7d", "views_7d", "label")
    }),

    // ---- session outcome by entry point: conversion rate of 30-min
    //      sessions grouped by their first event type — the
    //      sessionization window reused with a first()/max() rollup ----
    "q_sessionized_conversion" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val gapNs = 30L * 60 * 1000 * 1000 * 1000
      val sess = Tables.events(s, dir)
        .withColumn("prev", lag(col("ts_ns"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts_ns") - col("prev") > gapNs, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(min_by(col("event_type"), struct(col("ts_ns"), col("event_id")))
          .as("entry_type"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
      sess.groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum("converted").as("n_converted"))
        .withColumn("cvr_ppm",
          expr("n_converted * 1000000 div n_sessions"))
    }),

    // ---- peak detection on daily order volume: a strict local max
    //      that also clears 1.5× the trailing 7-day mean, decided by
    //      cross-multiplication (14·n > 3·sum₇) so no ratio ever
    //      materializes. Neighbor comparison via lag/lead on the day
    //      sequence ----
    "q_peak_detect" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(expr("cast(datediff(o_orderdate, date'1970-01-01') as bigint)")
          .as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day")
      val trail = Window.orderBy("day").rangeBetween(-7, -1)
      daily
        .withColumn("prev_n", lag("n", 1).over(w))
        .withColumn("next_n", lead("n", 1).over(w))
        .withColumn("sum7", sum("n").over(trail))
        .withColumn("n7", count(lit(1)).over(trail))
        .filter(col("prev_n").isNotNull && col("next_n").isNotNull &&
          col("n7") === 7 &&
          col("n") > col("prev_n") && col("n") > col("next_n") &&
          expr("14 * n > 3 * sum7"))
        .select(col("day"), col("n"), col("sum7"),
          expr("n * 7000000 div sum7").as("vs_mean_ppm"))
    }),

    // ---- maximum drawdown of cumulative daily revenue: running peak
    //      minus running level, worst day reported deterministically
    //      (max dd, then earliest day). Cents end to end; the global
    //      day window partitions per instrument in a real book ----
    "q_drawdown" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(expr("cast(datediff(o_orderdate, date'1970-01-01') as bigint)")
          .as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("cum", sum("rev").over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .withColumn("dd", col("peak") - col("cum"))
      dd.orderBy(col("dd").desc, col("day")).limit(1)
        .select(col("day").as("worst_day"), col("dd").as("max_dd_cents"),
          col("peak").as("peak_cents"), col("cum").as("cum_cents"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(

    "q_label_windows" -> """
      WITH daily AS (
        SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                 AS clicks,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
                 AS views,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
                 AS purchases
        FROM events GROUP BY 1, 2)
      SELECT user_id, day,
             coalesce(sum(clicks) OVER past, 0)::BIGINT AS clicks_7d,
             coalesce(sum(views) OVER past, 0)::BIGINT AS views_7d,
             (CASE WHEN coalesce(sum(purchases) OVER future, 0) > 0
                   THEN 1 ELSE 0 END)::BIGINT AS label
      FROM daily
      WINDOW past AS (PARTITION BY user_id ORDER BY day
                      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING),
             future AS (PARTITION BY user_id ORDER BY day
                        RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)
    """,

    "q_sessionized_conversion" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        (epoch_ns(ts) // 1000) * 1000 AS tns
                 FROM events),
      x AS (SELECT user_id, event_id, event_type, tns,
                   CASE WHEN prev IS NULL OR tns - prev > 1800000000000
                        THEN 1 ELSE 0 END AS new_s
            FROM (SELECT user_id, event_id, event_type, tns,
                         lag(tns) OVER (PARTITION BY user_id
                           ORDER BY tns, event_id) AS prev FROM e)),
      y AS (SELECT user_id, event_type, tns, event_id,
                   sum(new_s) OVER (PARTITION BY user_id
                     ORDER BY tns, event_id
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
            FROM x),
      sess AS (SELECT user_id, session_id,
                      min(CASE WHEN rk = 1 THEN event_type END)
                        AS entry_type,
                      max(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END)::BIGINT AS converted
               FROM (SELECT *, row_number() OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY tns, event_id) AS rk
                     FROM y)
               GROUP BY 1, 2)
      SELECT entry_type, count(*) AS n_sessions,
             sum(converted)::BIGINT AS n_converted,
             (sum(converted) * 1000000 // count(*))::BIGINT AS cvr_ppm
      FROM sess GROUP BY 1
    """,

    "q_peak_detect" -> """
      WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                              o_orderdate)::BIGINT AS day,
                            count(*)::BIGINT AS n
                     FROM orders GROUP BY 1),
      x AS (SELECT day, n,
                   lag(n) OVER (ORDER BY day) AS prev_n,
                   lead(n) OVER (ORDER BY day) AS next_n,
                   sum(n) OVER (ORDER BY day
                     RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sum7,
                   count(*) OVER (ORDER BY day
                     RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
            FROM daily)
      SELECT day, n, sum7::BIGINT AS sum7,
             (n * 7000000 // sum7)::BIGINT AS vs_mean_ppm
      FROM x
      WHERE prev_n IS NOT NULL AND next_n IS NOT NULL AND n7 = 7
        AND n > prev_n AND n > next_n AND 14 * n > 3 * sum7
    """,

    "q_drawdown" -> """
      WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                              o_orderdate)::BIGINT AS day,
                            sum(floor(o_totalprice * 100 + 0.5)::BIGINT)
                              AS rev
                     FROM orders GROUP BY 1),
      cm AS (SELECT day, sum(rev) OVER (ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM daily),
      c AS (SELECT day, cum,
                   max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                     AS peak
            FROM cm)
      SELECT day AS worst_day, (peak - cum)::BIGINT AS max_dd_cents,
             peak::BIGINT AS peak_cents, cum::BIGINT AS cum_cents
      FROM c
      ORDER BY max_dd_cents DESC, day
      LIMIT 1
    """,
  )
}
