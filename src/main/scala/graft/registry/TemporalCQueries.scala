package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal query registry, slice C — split from TemporalAQueries in
  * round 9 at the 1,400-line guideline (the round-7 registry split
  * rationale: a single-file edit must not take out a whole domain).
  * Entries are (name → builder) plus the DuckDB oracle SQL; both merge
  * verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object TemporalCQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- time-weighted average (metrics/billing): value held over
    //      [ts, next_ts) intervals; numerator/denominator kept as
    //      exact BIGINTs (ms durations bound the products ≪ 2^63) ----
    "q_time_weighted" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000000").as("ts_ms"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
        .withColumn("next_ms", lead(col("ts_ms"), 1).over(w))
        .filter(col("next_ms").isNotNull)
        .withColumn("dur", col("next_ms") - col("ts_ms"))
        .groupBy("user_id")
        .agg(sum(col("v_milli") * col("dur")).as("twa_num"),
             sum("dur").as("twa_den"))
        .filter(col("twa_den") > 0)
        .withColumn("twa_milli", expr("twa_num div twa_den"))
    }),

    // ---- time-decayed engagement, float-free: half-life = 1 day as a
    //      power-of-two weight 2^(40−age_days) — exponential decay in
    //      exact BIGINTs (weights > 40 days old round to zero, which a
    //      decayed counter does anyway) ----
    "q_decayed_count" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 86400000000000").as("day"))
      ev.crossJoin(ev.agg(max(col("day")).as("anchor")))
        .withColumn("age", col("anchor") - col("day"))
        .filter(col("age") <= 40)
        .groupBy("user_id")
        .agg(sum(expr("shiftleft(cast(1 as bigint), cast(40 - age as int))"))
               .as("decayed_e40"),
             count(lit(1)).as("n_recent"))
    }),

    // ---- top user-journey trigrams: double-lead over the µs-exact
    //      event order (ties broken by event_id) ----
    "q_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
                col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2").as("s2"),
                 col("e3").as("s3"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- rolling OLS trend: slope of value over the last 10 events
    //      per user (event-index x-axis), emitted only on full
    //      windows; all-BIGINT sufficient statistics ----
    "q_rolling_slope" -> ((s, dir) => {
      val wo = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      val wf = wo.rowsBetween(-9, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
                floor(col("value") * 1000).cast("long").as("y"))
        .withColumn("x", row_number().over(wo).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wf))
        .withColumn("sx", sum("x").over(wf))
        .withColumn("sy", sum("y").over(wf))
        .withColumn("sxy", sum(expr("x * y")).over(wf))
        .withColumn("sxx", sum(expr("x * x")).over(wf))
        .filter(col("cnt") === 10)
        .withColumn("num", expr("10 * sxy - sx * sy"))
        // den = 10·Σx² − (Σx)² over 10 consecutive ints = 825, constant
        .select(col("user_id"), col("event_id"),
          expr("""(case when num < 0 then -1 else 1 end)
                  * (abs(num) * 1000000 div 825)""").as("slope_ppm"))
    }),

    // ---- trailing-7-day distinct active users per day, EXACT at
    //      scale: each (user, active-day) covers the 7 window-ends it
    //      participates in (bounded ×7 explode), then one distinct +
    //      one count — no per-day set union, no window over sets ----
    "q_rolling_distinct" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .distinct()
      val cov = ud
        .select(col("user_id"),
                explode(expr("sequence(day, day + 6)")).as("d"))
        .distinct()
      cov.crossJoin(broadcast(ud.agg(max("day").as("mxd"))))
        .filter(col("d") <= col("mxd"))
        .groupBy("d").agg(count(lit(1)).as("n_users"))
    }),

    // ---- period-over-period: day-over-day revenue delta in signed
    //      ppm (sign factored out of the floor-div, year-partitioned
    //      lag so no single global window) ----
    "q_period_change" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      val w = Window.partitionBy(year(col("day"))).orderBy(col("day"))
      daily.withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .filter(col("prev_cents").isNotNull)
        .select(col("day"), col("cents"), col("prev_cents"),
          expr("""(case when cents < prev_cents then -1 else 1 end)
                  * (abs(cents - prev_cents) * 1000000 div prev_cents)""")
            .as("change_ppm"))
    }),

    // ---- multi-touch attribution with EXACT integer credit: each
    //      purchase's 10⁶ ppm split equally over its 24 h-lookback
    //      clicks, remainder units to the EARLIEST clicks (largest-
    //      remainder per purchase) — Σ credit ≡ 10⁶ per purchase ----
    "q_multitouch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
                expr("ts_ns div 1000").as("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
                col("us").as("click_us"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
                col("us").as("buy_us"))
      val touches = buys.join(clicks, "user_id")
        .filter(col("click_us") <= col("buy_us") &&
                col("buy_us") - col("click_us") <= lit(86400000000L))
      val w = Window.partitionBy("purchase_id")
        .orderBy(col("click_us"), col("click_id"))
      touches
        .withColumn("n", count(lit(1)).over(Window.partitionBy("purchase_id")))
        .withColumn("rk", row_number().over(w))
        .select(col("purchase_id"), col("click_id"),
          (expr("1000000 div n") +
            when(col("rk") <= expr("1000000 % n"), 1L).otherwise(0L))
            .as("credit_ppm"))
    }),

    // ---- state-machine dwell times: how long each user spends in
    //      each event-type state (state held until the next event) ----
    "q_dwell_time" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
                expr("ts_ns div 1000").as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy("user_id", "event_type")
        .agg(sum(col("next_us") - col("us")).as("dwell_us"),
             count(lit(1)).as("n_spells"))
    }),

    // ---- burstiness: each user's PEAK trailing-1-hour event count
    //      (a value-range window — the rate-limiter / abuse signal) ----
    "q_burstiness" -> ((s, dir) => {
      val frame = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3599999999L, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("us"))
        .withColumn("in_hour", count(lit(1)).over(frame))
        .groupBy("user_id")
        .agg(max("in_hour").as("peak_hourly"), count(lit(1)).as("n_events"))
    }),

    // ---- calendar seasonality: day-of-week share of order volume
    //      (ISO weekday 1-7, portable across engines) ----
    "q_seasonality" -> ((s, dir) => {
      val d = Tables.load(s, dir, "orders")
        .select(dayofweek(col("o_orderdate")).as("dow_sun1"))
        // normalize to ISO (Mon=1..Sun=7): Spark dayofweek is Sun=1
        .select(expr("((dow_sun1 + 5) % 7) + 1").as("iso_dow"))
        .groupBy("iso_dow").agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum("n").as("total"))))
        .select(col("iso_dow"), col("n"),
          expr("n * 1000000 div total").as("share_ppm"))
    }),

    // ---- longest consecutive-day activity streak per user: calendar
    //      gaps-and-islands via the day − row_number constant trick ----
    "q_streaks" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak"),
             // longest streak's start day, earliest on length ties
             (max(struct(col("len"), (-col("start_day")).as("neg_start")))
               .getField("neg_start") * -1).as("streak_start_day"),
             count(lit(1)).as("n_streaks"))
    }),

    // ---- tabular ML feature prep: per-event lag features + trailing
    //      window sum over the µs-exact order — the feature-table
    //      generation step before model training ----
    "q_lag_features" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val wf = w.rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("us"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
        .withColumn("lag1", lag(col("v_milli"), 1).over(w))
        .withColumn("lag2", lag(col("v_milli"), 2).over(w))
        .withColumn("roll5_sum", sum("v_milli").over(wf))
        .withColumn("roll5_n", count(lit(1)).over(wf))
        .select("user_id", "event_id", "v_milli", "lag1", "lag2",
                "roll5_sum", "roll5_n")
    }),

    // ---- lag-1 autocovariance sufficient statistics per user:
    //      Σxₜxₜ₊₁ over the adjacent pairs + the marginal sums — the
    //      integer surface for serial-correlation diagnostics ----
    "q_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("us"),
          floor(col("value") * 1000).cast("long").as("x"))
        .withColumn("x_next", lead(col("x"), 1).over(w))
        .filter(col("x_next").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
             sum(expr("x * x_next")).as("sxy"),
             sum("x").as("sx"), sum("x_next").as("sy"),
             sum(expr("x * x")).as("sxx"))
    }),

    // ---- CUSUM change detection: per-(user, type) upward-drift
    //      statistic vs the type's global floor-mean. The recurrence
    //      c_t = max(0, c_{t-1} + (x_t − mean)) IS the floor-at-zero
    //      balance, so it reuses Series.cappedBalance's closed form —
    //      two windows over one sort, no sequential fold ----
    "q_cusum" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val means = e.groupBy("event_type")
        .agg(expr("sum(cents) div count(1)").as("mean_c"))
      val d = e.join(broadcast(means), "event_type")
        .withColumn("delta", col("cents") - col("mean_c"))
        .withColumn("ck", concat_ws(":", col("user_id"), col("event_type")))
      graft.operators.Series.cappedBalance(
          d, "ck", Seq("ts", "event_id"), "delta")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("delta"), col("balance").as("cusum"),
          when(col("balance") > col("mean_c") * 4, 1L).otherwise(0L)
            .as("alarm"))
    }),

    // ---- conversion-lag distribution: hours from a user's first view
    //      to their first purchase, as an hour-bucket histogram —
    //      funnel TIMING beside q_funnel's stage counts. Two
    //      conditional mins in one groupBy (no join, no window), then
    //      a tiny bucket aggregate ----
    "q_conversion_lag" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000000").as("ms"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ms")))
          .as("first_view_ms"),
          min(when(col("event_type") === "purchase", col("ms")))
            .as("first_purchase_ms"))
        .filter(col("first_view_ms").isNotNull &&
          col("first_purchase_ms").isNotNull &&
          col("first_purchase_ms") >= col("first_view_ms"))
        .withColumn("lag_hours",
          expr("(first_purchase_ms - first_view_ms) div 3600000"))
        .groupBy("lag_hours")
        .agg(count(lit(1)).as("n_users"),
          min(col("first_purchase_ms") - col("first_view_ms"))
            .as("min_lag_ms"),
          max(col("first_purchase_ms") - col("first_view_ms"))
            .as("max_lag_ms"))),

    // ---- p-chart (statistical process control): per day, error share
    //      vs the corpus-wide rate with the 3σ binomial control limit,
    //      decided entirely in integers — err/n > p̄ + 3·√(p̄(1−p̄)/n)
    //      squared and cleared of denominators becomes
    //      (err·N − E·n)²·N > 9·E·(N−E)·n, evaluated in DECIMAL(38,0)
    //      so the squared term never overflows (the q_chisq pattern) ----
    "q_control_chart" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_ns div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("err"))
      val tot = daily.agg(sum("n").as("big_n"), sum("err").as("big_e"))
      daily.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), col("err"),
          expr("err * 1000000 div n").as("rate_ppm"),
          expr("big_e * 1000000 div big_n").as("base_ppm"),
          when(
            expr("""cast(err as decimal(38,0)) * big_n - cast(big_e as decimal(38,0)) * n > 0 AND
                    (cast(err as decimal(38,0)) * big_n - cast(big_e as decimal(38,0)) * n) *
                    (cast(err as decimal(38,0)) * big_n - cast(big_e as decimal(38,0)) * n) * big_n >
                    9 * cast(big_e as decimal(38,0)) * (big_n - big_e) * n"""),
            1L).otherwise(0L).as("out_of_control"))
    }),

    // ---- order backlog over time: open-order queue depth per day via
    //      the interval→delta→cumsum identity (+1 at placement, −1 the
    //      day after the order's LAST shipment). Deltas aggregate per
    //      day before the cumulative window, so it runs over distinct
    //      days, not orders ----
    "q_backlog" -> ((s, dir) => {
      val opens = Tables.load(s, dir, "orders")
        .select(expr("datediff(o_orderdate, date'1970-01-01')")
          .cast("long").as("day"), lit(1L).as("delta"))
      val closes = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(max(col("l_shipdate")).as("done"))
        .select(expr("datediff(done, date'1970-01-01') + 1")
          .cast("long").as("day"), lit(-1L).as("delta"))
      opens.unionByName(closes)
        .groupBy("day")
        .agg(sum("delta").as("net_delta"))
        .withColumn("backlog", sum("net_delta").over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),

    // ---- seasonal-naive forecast with exact errors: each month's
    //      order count predicted by the same month last year; the join
    //      on month_id−12 (not lag-12) stays correct under missing
    //      months. Integer counts ⇒ errors exact in both engines ----
    "q_seasonal_forecast" -> ((s, dir) => {
      val m = Tables.load(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          month(col("o_orderdate"))).cast("long").as("month_id"))
        .agg(count(lit(1)).as("actual"))
      m.join(m.select((col("month_id") + 12).as("month_id"),
          col("actual").as("forecast")), Seq("month_id"))
        .select(col("month_id"), col("actual"), col("forecast"),
          abs(col("actual") - col("forecast")).as("abs_err"),
          expr("abs(actual - forecast) * 1000000 div forecast")
            .as("err_ppm"))
    }),

    // ---- Allen interval algebra over consecutive orders: each order's
    //      lifespan [placement, last shipment] classified against the
    //      customer's next one — precedes/meets/overlaps/contains/
    //      inside/started_by/finishes/equals as a mutually-exclusive
    //      CASE ladder on integer days. One window per customer, then a
    //      global count per relation ----
    "q_allen_intervals" -> ((s, dir) => {
      val spans = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(max(expr("datediff(l_shipdate, date'1970-01-01')"))
            .cast("long").as("e")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          expr("cast(datediff(o_orderdate, date'1970-01-01') as bigint)")
            .as("s"), col("e"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("s"), col("o_orderkey"))
      spans
        .withColumn("s2", lead("s", 1).over(w))
        .withColumn("e2", lead("e", 1).over(w))
        .filter(col("s2").isNotNull)
        .select(expr("""CASE
            WHEN e < s2 THEN 'precedes'
            WHEN e = s2 THEN 'meets'
            WHEN s = s2 AND e = e2 THEN 'equals'
            WHEN s = s2 THEN 'starts'
            WHEN e = e2 THEN 'finishes'
            WHEN s < s2 AND e > e2 THEN 'contains'
            WHEN s > s2 AND e < e2 THEN 'inside'
            ELSE 'overlaps' END""").as("relation"))
        .groupBy("relation")
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- out-of-order arrival audit (the batch question behind every
    //      streaming watermark choice): per user, how many events
    //      arrive with a timestamp behind the running max of earlier
    //      arrivals, and by how much at worst. One window per user in
    //      arrival (event_id) order ----
    "q_ooo_lateness" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .withColumn("prior_max", max("ts_ns").over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("ts_ns") < col("prior_max"), 1L).otherwise(0L))
            .as("n_late"),
          max(when(col("ts_ns") < col("prior_max"),
            col("prior_max") - col("ts_ns")).otherwise(0L))
            .as("max_late_ns"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_time_weighted" -> """
      WITH e AS (SELECT user_id, event_id,
                        epoch_ns(ts) // 1000000 AS ts_ms,
                        CAST(floor("value" * 1000) AS BIGINT) AS v_milli
                 FROM events),
      l AS (SELECT *, lead(ts_ms) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id) AS next_ms
            FROM e)
      SELECT user_id,
             sum(v_milli * (next_ms - ts_ms))::BIGINT AS twa_num,
             sum(next_ms - ts_ms)::BIGINT AS twa_den,
             (sum(v_milli * (next_ms - ts_ms)) //
              sum(next_ms - ts_ms))::BIGINT AS twa_milli
      FROM l WHERE next_ms IS NOT NULL
      GROUP BY user_id HAVING sum(next_ms - ts_ms) > 0
    """,

    "q_decayed_count" -> """
      WITH ev AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
                  FROM events),
      a AS (SELECT max(day) AS anchor FROM ev)
      SELECT user_id,
             sum(1::BIGINT << ((40 - (anchor - day))::INT))::BIGINT
               AS decayed_e40,
             count(*) AS n_recent
      FROM ev, a WHERE anchor - day <= 40
      GROUP BY user_id
    """,

    "q_event_paths" -> """
      WITH o AS (SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
                 FROM events
                 WINDOW w AS (PARTITION BY user_id
                              ORDER BY epoch_ns(ts) // 1000, event_id))
      SELECT event_type AS s1, e2 AS s2, e3 AS s3, count(*) AS n
      FROM o WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
    """,

    "q_rolling_slope" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        floor(value * 1000)::BIGINT AS y
                 FROM events),
      x AS (SELECT *, row_number() OVER w AS x FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      s AS (SELECT user_id, event_id,
                   count(*) OVER f AS cnt,
                   sum(x) OVER f AS sx, sum(y) OVER f AS sy,
                   sum(x * y) OVER f AS sxy
            FROM x
            WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id,
             ((CASE WHEN 10 * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
              (abs(10 * sxy - sx * sy) * 1000000 // 825))::BIGINT AS slope_ppm
      FROM s WHERE cnt = 10
    """,

    "q_rolling_distinct" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                         epoch_ns(ts) // 86400000000000 AS day
                  FROM events),
      mx AS (SELECT max(day) AS mxd FROM ud),
      cov AS (SELECT DISTINCT user_id, day + i AS d
              FROM ud, (SELECT unnest(range(0, 7)) AS i))
      SELECT d, count(*) AS n_users FROM cov, mx
      WHERE d <= mxd GROUP BY d
    """,

    "q_period_change" -> """
      WITH daily AS (SELECT o_orderdate::DATE AS day,
                            sum(floor(o_totalprice * 100 + 0.5)::BIGINT)
                              AS cents
                     FROM orders GROUP BY 1),
      l AS (SELECT *, lag(cents) OVER (PARTITION BY year(day)
                                       ORDER BY day) AS prev_cents
            FROM daily)
      SELECT day, cents::BIGINT AS cents, prev_cents::BIGINT AS prev_cents,
             ((CASE WHEN cents < prev_cents THEN -1 ELSE 1 END) *
              (abs(cents - prev_cents) * 1000000 // prev_cents))::BIGINT
               AS change_ppm
      FROM l WHERE prev_cents IS NOT NULL
    """,

    "q_multitouch" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts) // 1000 AS us
                 FROM events),
      t AS (SELECT b.event_id AS purchase_id, c.event_id AS click_id,
                   c.us AS click_us
            FROM e b JOIN e c ON b.user_id = c.user_id
            WHERE b.event_type = 'purchase' AND c.event_type = 'click'
              AND c.us <= b.us AND b.us - c.us <= 86400000000),
      r AS (SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n,
                   row_number() OVER (PARTITION BY purchase_id
                                      ORDER BY click_us, click_id) AS rk
            FROM t)
      SELECT purchase_id, click_id,
             (1000000 // n + CASE WHEN rk <= 1000000 % n THEN 1 ELSE 0 END)
               ::BIGINT AS credit_ppm
      FROM r
    """,

    "q_dwell_time" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_ns(ts) // 1000 AS us FROM events),
      l AS (SELECT *, lead(us) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS next_us
            FROM e)
      SELECT user_id, event_type,
             sum(next_us - us)::BIGINT AS dwell_us,
             count(*) AS n_spells
      FROM l WHERE next_us IS NOT NULL
      GROUP BY 1, 2
    """,

    "q_burstiness" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      c AS (SELECT user_id,
                   count(*) OVER (PARTITION BY user_id ORDER BY us
                                  RANGE BETWEEN 3599999999 PRECEDING
                                        AND CURRENT ROW) AS in_hour
            FROM e)
      SELECT user_id, max(in_hour)::BIGINT AS peak_hourly,
             count(*) AS n_events
      FROM c GROUP BY 1
    """,

    "q_seasonality" -> """
      WITH d AS (SELECT isodow(o_orderdate)::BIGINT AS iso_dow FROM orders),
      c AS (SELECT iso_dow, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT sum(n) AS total FROM c)
      SELECT iso_dow, n, (n * 1000000 // total)::BIGINT AS share_ppm
      FROM c, t
    """,

    "q_streaks" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                         epoch_ns(ts) // 86400000000000 AS day
                  FROM events),
      g AS (SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day) AS grp
            FROM ud),
      st AS (SELECT user_id, grp, count(*) AS len, min(day) AS start_day
             FROM g GROUP BY 1, 2),
      best AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                            ORDER BY len DESC, start_day)
                          AS rk
               FROM st)
      SELECT b.user_id, b.len AS longest_streak,
             b.start_day AS streak_start_day, n.n_streaks
      FROM best b JOIN (SELECT user_id, count(*) AS n_streaks FROM st
                        GROUP BY 1) n USING (user_id)
      WHERE rk = 1
    """,

    "q_lag_features" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
                        floor(value * 1000)::BIGINT AS v_milli
                 FROM events)
      SELECT user_id, event_id, v_milli,
             lag(v_milli, 1) OVER w AS lag1,
             lag(v_milli, 2) OVER w AS lag2,
             (sum(v_milli) OVER f)::BIGINT AS roll5_sum,
             count(*) OVER f AS roll5_n
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id),
             f AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,

    "q_autocorr" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
                        floor(value * 1000)::BIGINT AS x
                 FROM events),
      l AS (SELECT *, lead(x) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS x_next
            FROM e)
      SELECT user_id, count(*) AS n_pairs,
             sum(x * x_next)::BIGINT AS sxy,
             sum(x)::BIGINT AS sx, sum(x_next)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx
      FROM l WHERE x_next IS NOT NULL
      GROUP BY 1
    """,

    // CUSUM via the same prefix − running-min identity the Spark side
    // inherits from cappedBalance (positive mean ⇒ div ≡ //)
    "q_cusum" -> """
      WITH e AS (SELECT event_id, user_id, event_type, ts,
                        floor(value * 100 + 0.5)::BIGINT AS cents
                 FROM events WHERE value IS NOT NULL),
      m AS (SELECT event_type, sum(cents) // count(*) AS mean_c
            FROM e GROUP BY 1),
      d AS (SELECT e.*, cents - mean_c AS delta, mean_c
            FROM e JOIN m USING (event_type)),
      p AS (SELECT *, sum(delta) OVER w AS prefix FROM d
            WINDOW w AS (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)),
      c AS (SELECT *, prefix - least(0, min(prefix) OVER w2) AS cusum
            FROM p
            WINDOW w2 AS (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING))
      SELECT event_id, user_id, event_type,
             delta::BIGINT AS delta, cusum::BIGINT AS cusum,
             (CASE WHEN cusum > mean_c * 4 THEN 1 ELSE 0 END)::BIGINT
               AS alarm
      FROM c
    """,

    "q_conversion_lag" -> """
      WITH per AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                        THEN epoch_ns(ts) // 1000000 END) AS first_view_ms,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_ns(ts) // 1000000 END)
                 AS first_purchase_ms
        FROM events GROUP BY 1),
      conv AS (
        SELECT *, first_purchase_ms - first_view_ms AS lag_ms
        FROM per
        WHERE first_view_ms IS NOT NULL AND first_purchase_ms IS NOT NULL
          AND first_purchase_ms >= first_view_ms)
      SELECT lag_ms // 3600000 AS lag_hours, count(*) AS n_users,
             min(lag_ms) AS min_lag_ms, max(lag_ms) AS max_lag_ms
      FROM conv GROUP BY 1
    """,

    "q_control_chart" -> """
      WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
                            count(*) AS n,
                            sum(CASE WHEN event_type = 'error'
                                     THEN 1 ELSE 0 END)::BIGINT AS err
                     FROM events GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS big_n, sum(err)::BIGINT AS big_e
              FROM daily)
      SELECT day, n, err,
             err * 1000000 // n AS rate_ppm,
             big_e * 1000000 // big_n AS base_ppm,
             (CASE WHEN err::HUGEINT * big_n - big_e::HUGEINT * n > 0
                    AND (err::HUGEINT * big_n - big_e::HUGEINT * n) *
                        (err::HUGEINT * big_n - big_e::HUGEINT * n) * big_n >
                        9 * big_e::HUGEINT * (big_n - big_e) * n
                   THEN 1 ELSE 0 END)::BIGINT AS out_of_control
      FROM daily CROSS JOIN tot
    """,

    "q_backlog" -> """
      WITH opens AS (SELECT date_diff('day', DATE '1970-01-01',
                              o_orderdate)::BIGINT AS day,
                            1::BIGINT AS delta
                     FROM orders),
      closes AS (SELECT (date_diff('day', DATE '1970-01-01',
                           max(l_shipdate)) + 1)::BIGINT AS day,
                        (-1)::BIGINT AS delta
                 FROM lineitem GROUP BY l_orderkey),
      d AS (SELECT day, sum(delta)::BIGINT AS net_delta
            FROM (SELECT * FROM opens UNION ALL SELECT * FROM closes)
            GROUP BY 1)
      SELECT day, net_delta,
             (sum(net_delta) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING))::BIGINT AS backlog
      FROM d
    """,

    "q_seasonal_forecast" -> """
      WITH m AS (SELECT (year(o_orderdate) * 12
                         + month(o_orderdate))::BIGINT AS month_id,
                        count(*)::BIGINT AS actual
                 FROM orders GROUP BY 1)
      SELECT a.month_id, a.actual, f.actual AS forecast,
             abs(a.actual - f.actual)::BIGINT AS abs_err,
             abs(a.actual - f.actual) * 1000000 // f.actual AS err_ppm
      FROM m a JOIN m f ON a.month_id = f.month_id + 12
    """,

    "q_allen_intervals" -> """
      WITH spans AS (SELECT o.o_custkey, o.o_orderkey,
                            date_diff('day', DATE '1970-01-01',
                              o.o_orderdate)::BIGINT AS s,
                            e.e
                     FROM orders o
                     JOIN (SELECT l_orderkey,
                                  max(date_diff('day', DATE '1970-01-01',
                                      l_shipdate))::BIGINT AS e
                           FROM lineitem GROUP BY 1) e
                       ON o.o_orderkey = e.l_orderkey),
      nxt AS (SELECT s, e,
                     lead(s) OVER w AS s2, lead(e) OVER w AS e2
              FROM spans
              WINDOW w AS (PARTITION BY o_custkey ORDER BY s, o_orderkey))
      SELECT CASE
               WHEN e < s2 THEN 'precedes'
               WHEN e = s2 THEN 'meets'
               WHEN s = s2 AND e = e2 THEN 'equals'
               WHEN s = s2 THEN 'starts'
               WHEN e = e2 THEN 'finishes'
               WHEN s < s2 AND e > e2 THEN 'contains'
               WHEN s > s2 AND e < e2 THEN 'inside'
               ELSE 'overlaps' END AS relation,
             count(*) AS n_pairs
      FROM nxt WHERE s2 IS NOT NULL
      GROUP BY 1
    """,

    "q_ooo_lateness" -> """
      WITH e AS (SELECT user_id, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS tns
                 FROM events),
      x AS (SELECT user_id, tns,
                   max(tns) OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prior_max
            FROM e)
      SELECT user_id, count(*) AS n_events,
             sum(CASE WHEN tns < prior_max THEN 1 ELSE 0 END)::BIGINT
               AS n_late,
             max(CASE WHEN tns < prior_max THEN prior_max - tns
                      ELSE 0 END)::BIGINT AS max_late_ns
      FROM x GROUP BY 1
    """,
  )
}
