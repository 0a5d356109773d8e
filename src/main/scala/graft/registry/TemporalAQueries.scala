package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{AsOfDirection, AsOfJoinNative}
import graft.plans.AsOfDirection.{Backward, Forward, Nearest}

/** Temporal query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object TemporalAQueries {

  /** Each event against its key's checkpoints — the days holding ≥ 5
    * of the key's events — matched in `direction`; -1 where nothing
    * matches. The key column `key` is computed by `keyExpr`. The shared
    * shape of the q_asof_* entries. */
  private def asofCheckpoints(s: SparkSession, dir: String,
      direction: AsOfDirection, key: String = "user_id",
      keyExpr: Column = col("user_id")): DataFrame = {
    val dayNs = 86400L * 1000 * 1000 * 1000
    val ev = Tables.events(s, dir).select(
      col("event_id"), keyExpr.as(key), col("ts_ns"))
    val cp = ev
      .withColumn("cp_ns", (col("ts_ns") / dayNs).cast("long") * dayNs)
      .groupBy(key, "cp_ns")
      .agg(count(lit(1)).as("cp_events"))
      .filter(col("cp_events") >= 5)
    AsOfJoinNative.joinAsOf(ev, cp, Seq(key), "ts_ns", "cp_ns",
        Seq("cp_ns", "cp_events"), direction = direction)
      .select(col("event_id"), col(key), col("ts_ns"),
              coalesce(col("cp_ns"), lit(-1L)).as("cp_ns"),
              coalesce(col("cp_events"), lit(-1L)).as("cp_events"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- events: windowed agg + sessionization ----
    "q_events_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 6).as("sum_value"))),
    // interval (range) self-join: click→purchase attribution within
    // 24h — the SAME function is the streaming stream-stream join
    // (StreamingOps.attributionJoin; watermark no-ops on batch)
    "q_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.StreamingOps.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "24 hours", "1 hour")
    }),
    "q_events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val gapNs = 30L * 60 * 1000 * 1000 * 1000
      Tables.events(s, dir)
        .withColumn("prev", lag(col("ts_ns"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts_ns") - col("prev") > gapNs, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("ts_ns")).as("start_ns"), max(col("ts_ns")).as("end_ns"))
    }),

    // ---- built-in session windows (native session_window agg) ----
    "q_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
                col("session_window.start").as("s_start"),
                col("session_window.end").as("s_end"),
                col("n_events"))),

    // ---- as-of join (an operator Spark lacks): each event against
    //      its user's latest busy-day checkpoint, through the native
    //      merge (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec) ----
    "q_asof_join" -> ((s, dir) =>
      asofCheckpoints(s, dir, Backward)),
    // kept as its own entry for the bench history; now the same plan as q_asof_join
    "q_asof_native" -> ((s, dir) =>
      asofCheckpoints(s, dir, Backward)),

    // the native operator under deliberate key skew: collapsing even
    // user_ids onto one key puts ~half of BOTH sides on a single key —
    // the hot-partition shape the O(1)-state merge must stream through
    // (the memory contract itself is spill-asserted in
    // AsOfJoinNativeSpec; this entry pins correctness + benches it)
    "q_asof_skew" -> ((s, dir) =>
      asofCheckpoints(s, dir, Backward, "sk",
        when(col("user_id") % 2 === 0, lit(0L)).otherwise(col("user_id")))),

    // ---- ordered-step funnel over the event stream ----
    "q_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnel(
        Tables.events(s, dir), "user_id", "event_type", "ts_ns",
        Seq("view", "click", "purchase"))),

    // ---- first-seen-month cohort retention grid ----
    "q_cohort" -> ((s, dir) =>
      graft.operators.Cohort.retentionGrid(
        Tables.load(s, dir, "orders"), "o_custkey", "o_orderdate")),

    // ---- temporal (point-in-time) join: each event labeled with its
    //      active SCD2 version — the native as-of join against the
    //      windowed interval build (valid_from ≤ ts, greatest wins) ----
    "q_temporal_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val versions = graft.operators.ChangeCapture.scd2(
          Tables.events(s, dir), "user_id", "event_type", "ts_ns",
          "event_id")
        .select(col("user_id"), col("valid_from"), col("state"),
                col("version"))
      AsOfJoinNative.joinAsOf(
          ev, versions, Seq("user_id"), "ts_ns", "valid_from",
          Seq("state", "version"))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
                col("state"), col("version"))
    }),

    // ---- state-transition (Markov) counts over the event stream ----
    "q_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
                 col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- Markov stationary distribution of the event-type chain:
    //      3 unrolled power-iteration steps in ppm integers. Per step,
    //      each edge contributes v_i · p_ij div 10⁶ (floor per edge —
    //      the deterministic contract; mass may leak a few ppm to
    //      flooring, which is the point: bit-identical on any engine).
    //      The state space is |event_type| (~5), so every frame after
    //      the transition groupBy is a broadcast-size matrix; the one
    //      corpus-scale pass is the same lead-window q_transitions
    //      runs ----
    "q_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val trans = Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val p = trans
        .withColumn("out_n", sum("n").over(Window.partitionBy("src")))
        .withColumn("p_ppm", expr("n * 1000000 div out_n"))
        .select("src", "dst", "p_ppm")
        .transform(graft.operators.CheckpointScope.pin(_)) // ≤ |states|² rows, reused 3×
      val states = p.select(col("src").as("state")).distinct()
      val nStates = states.agg(count(lit(1)).as("k"))
      var v = states.crossJoin(broadcast(nStates))
        .select(col("state"), expr("1000000 div k").as("v_ppm"))
      for (_ <- 1 to 3) {
        v = p.join(v.withColumnRenamed("state", "src"), Seq("src"))
          .select(col("dst").as("state"),
            expr("v_ppm * p_ppm div 1000000").as("c"))
          .groupBy("state").agg(sum("c").as("v_ppm"))
      }
      v.orderBy("state")
    }),

    // ---- ordered-series family (operators.Series): one window pass
    //      each, no self-joins ----
    // forward fill: carry the last purchase amount (integer millis —
    // floor(x*1000) is IEEE-exact cross-engine) onto every later event
    "q_gap_fill" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "purchase",
            floor(col("value") * 1000).cast("long")).as("pv"))
      graft.operators.Series
        .forwardFill(e, "user_id", "pv", "filled_milli",
                     col("ts"), col("event_id"))
        .select("event_id", "user_id", "filled_milli")
    }),
    // merge overlapping spans: event intervals [ts, ts + (id%7+1) min)
    // in integer epoch-micros, coalesced per user
    "q_interval_merge" -> ((s, dir) => {
      val start = unix_micros(col("ts"))
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), start.as("start_us"),
          (start + (pmod(col("event_id"), lit(7)) + 1) * 60000000L)
            .as("end_us"))
      graft.operators.Series
        .mergeIntervals(iv, "user_id", "start_us", "end_us", col("event_id"))
    }),
    // 2-sigma spend outliers per user, float-free (the k-sigma test
    // multiplied through by n² stays in BIGINT)
    "q_anomaly" -> ((s, dir) =>
      graft.operators.Series.sigmaOutliers(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
                  floor(col("value") * 1000).cast("long").as("v_milli"))
          .filter(col("v_milli").isNotNull),
        "user_id", "v_milli", 2, 10)
        .select("user_id", "event_id", "v_milli", "n_key_rows")),

    // ---- as-of join directions (pandas merge_asof parity): the next
    //      checkpoint at-or-after each event, and the closer of the
    //      two — same data shape as q_asof_join ----
    "q_asof_fwd" -> ((s, dir) =>
      asofCheckpoints(s, dir, Forward)),
    "q_asof_nearest" -> ((s, dir) =>
      asofCheckpoints(s, dir, Nearest)),

    // ---- binned interval-overlap join: the equi-join rewrite of the
    //      interval theta-join (no BroadcastNestedLoopJoin) — which
    //      event intervals overlap, per user ----
    "q_range_join" -> ((s, dir) => {
      val start = unix_micros(col("ts"))
      val iv = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        start.as("s"),
        (start + (pmod(col("event_id"), lit(7)) + 1) * 60000000L).as("e"))
      graft.operators.RangeJoin
        .overlapJoin(iv, iv, "user_id", "event_id", "s", "e", 300000000L)
        .filter(col("l_id") < col("r_id"))
    }),

  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_events_window" -> """
      SELECT user_id, ts::DATE AS day, event_type, count(*) AS n_events,
             round(sum(value), 6) AS sum_value
      FROM events GROUP BY 1, 2, 3
    """,
    "q_attribution" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts) // 1000 AS us
                 FROM events)
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             (p.us - c.us) AS gap_us
      FROM e c JOIN e p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.us >= c.us AND p.us <= c.us + 86400000000
    """,
    "q_events_sessionize" -> """
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns FROM events),
      x AS (SELECT user_id, event_id, ts_ns,
                   CASE WHEN prev IS NULL OR ts_ns - prev > 1800000000000
                        THEN 1 ELSE 0 END AS new_s
            FROM (SELECT user_id, event_id, ts_ns,
                         lag(ts_ns) OVER (PARTITION BY user_id
                           ORDER BY ts_ns, event_id) AS prev FROM e)),
      y AS (SELECT user_id, ts_ns,
                   sum(new_s) OVER (PARTITION BY user_id
                     ORDER BY ts_ns, event_id
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
            FROM x)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts_ns) AS start_ns, max(ts_ns) AS end_ns
      FROM y GROUP BY 1, 2
    """,
    "q_session_window" -> """
      WITH x AS (
        SELECT user_id, ts,
               -- >= : an event exactly gap after the previous one opens
               -- a NEW Spark session window ([start, last+gap) is
               -- half-open), unlike the q_events_sessionize contract
               -- which merges at-gap events
               CASE WHEN prev IS NULL
                         OR epoch_ns(ts) - epoch_ns(prev) >= 1800000000000
                    THEN 1 ELSE 0 END AS new_s
        FROM (SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events)),
      y AS (SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM x)
      SELECT user_id, min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_events
      FROM y GROUP BY user_id, sid
    """,
    "q_asof_join" -> """
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events),
      cp AS (SELECT user_id,
                    (epoch_ns(ts) // 86400000000000) * 86400000000000 AS cp_ns,
                    count(*) AS cp_events
             FROM events
             GROUP BY user_id, (epoch_ns(ts) // 86400000000000) * 86400000000000
             HAVING count(*) >= 5)
      SELECT e.event_id, e.user_id, e.ts_ns,
             coalesce(c.cp_ns, -1) AS cp_ns,
             coalesce(c.cp_events, -1) AS cp_events
      FROM ev e ASOF LEFT JOIN cp c
        ON e.user_id = c.user_id AND e.ts_ns >= c.cp_ns
    """,
    "q_asof_native" -> """
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events),
      cp AS (SELECT user_id,
                    (epoch_ns(ts) // 86400000000000) * 86400000000000 AS cp_ns,
                    count(*) AS cp_events
             FROM events
             GROUP BY user_id, (epoch_ns(ts) // 86400000000000) * 86400000000000
             HAVING count(*) >= 5)
      SELECT e.event_id, e.user_id, e.ts_ns,
             coalesce(c.cp_ns, -1) AS cp_ns,
             coalesce(c.cp_events, -1) AS cp_events
      FROM ev e ASOF LEFT JOIN cp c
        ON e.user_id = c.user_id AND e.ts_ns >= c.cp_ns
    """,
    "q_asof_skew" -> """
      WITH ev AS (SELECT event_id,
                         CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS sk,
                         epoch_ns(ts) AS ts_ns FROM events),
      cp AS (SELECT sk,
                    (ts_ns // 86400000000000) * 86400000000000 AS cp_ns,
                    count(*) AS cp_events
             FROM ev
             GROUP BY 1, 2
             HAVING count(*) >= 5)
      SELECT e.event_id, e.sk, e.ts_ns,
             coalesce(c.cp_ns, -1) AS cp_ns,
             coalesce(c.cp_events, -1) AS cp_events
      FROM ev e ASOF LEFT JOIN cp c
        ON e.sk = c.sk AND e.ts_ns >= c.cp_ns
    """,
    "q_funnel" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events),
      s1 AS (SELECT user_id, min(ts_ns) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts_ns) AS t2, min(s1.t1) AS t1
             FROM e JOIN s1 ON e.user_id = s1.user_id AND e.ts_ns > s1.t1
             WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts_ns) AS t3, min(s2.t1) AS t1
             FROM e JOIN s2 ON e.user_id = s2.user_id AND e.ts_ns > s2.t2
             WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT 1 AS step_idx, 'view' AS step, count(*) AS users,
             0::BIGINT AS total_lag FROM s1
      UNION ALL SELECT 2, 'click', count(*),
             coalesce(sum(t2 - t1), 0)::BIGINT FROM s2
      UNION ALL SELECT 3, 'purchase', count(*),
             coalesce(sum(t3 - t1), 0)::BIGINT FROM s3
    """,
    "q_cohort" -> """
      WITH a AS (SELECT o_custkey AS k,
                        (year(o_orderdate) * 12 + month(o_orderdate)) AS m
                 FROM orders),
      c AS (SELECT k, min(m) AS m0 FROM a GROUP BY 1)
      SELECT make_date(((m0 - 1) // 12)::INT, ((m0 - 1) % 12 + 1)::INT, 1)
               AS cohort_month,
             offset_m, active, events
      FROM (SELECT m0, m - m0 AS offset_m, count(DISTINCT k) AS active,
                   count(*) AS events
            FROM a JOIN c USING (k) GROUP BY 1, 2)
    """,
    "q_temporal_join" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events),
      ch AS (SELECT user_id, event_type AS state, ts_ns, event_id FROM (
               SELECT user_id, event_type, ts_ns, event_id,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts_ns, event_id) AS prev
               FROM e)
             WHERE prev IS NULL OR prev <> event_type),
      v AS (SELECT user_id, state, ts_ns AS valid_from,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts_ns, event_id) AS version
            FROM ch)
      SELECT e.event_id, e.user_id, e.ts_ns, x.state, x.version
      FROM e, LATERAL (SELECT state, version FROM v
                       WHERE v.user_id = e.user_id
                         AND v.valid_from <= e.ts_ns
                       ORDER BY v.valid_from DESC LIMIT 1) x
    """,
    "q_markov_stationary" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events),
      t AS (SELECT event_type AS src, next_type AS dst,
                   count(*)::BIGINT AS n
            FROM (SELECT user_id, event_type, event_id, ts_ns,
                         lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts_ns, event_id) AS next_type
                  FROM e)
            WHERE next_type IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT src, dst,
                   (n * 1000000 // sum(n) OVER (PARTITION BY src))::BIGINT
                     AS p_ppm
            FROM t),
      s AS (SELECT DISTINCT src AS state FROM p),
      kk AS (SELECT count(*)::BIGINT AS k FROM s),
      v0 AS (SELECT state, (1000000 // k)::BIGINT AS v_ppm
             FROM s CROSS JOIN kk),
      v1 AS (SELECT p.dst AS state,
                    sum(v_ppm * p_ppm // 1000000)::BIGINT AS v_ppm
             FROM p JOIN v0 ON p.src = v0.state GROUP BY 1),
      v2 AS (SELECT p.dst AS state,
                    sum(v_ppm * p_ppm // 1000000)::BIGINT AS v_ppm
             FROM p JOIN v1 ON p.src = v1.state GROUP BY 1),
      v3 AS (SELECT p.dst AS state,
                    sum(v_ppm * p_ppm // 1000000)::BIGINT AS v_ppm
             FROM p JOIN v2 ON p.src = v2.state GROUP BY 1)
      SELECT state, v_ppm FROM v3
    """,

    "q_transitions" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        (epoch_ns(ts) // 1000) * 1000 AS ts_ns FROM events)
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM (SELECT event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts_ns, event_id) AS next_type
            FROM e)
      WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    """,

    "q_gap_fill" -> """
      WITH e AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor("value" * 1000) AS BIGINT) END AS pv
        FROM events),
      g AS (SELECT event_id, user_id, pv,
                   count(pv) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS grp
            FROM e)
      SELECT event_id, user_id,
             max(pv) OVER (PARTITION BY user_id, grp) AS filled_milli
      FROM g
    """,

    "q_interval_merge" -> """
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS start_us,
               epoch_us(ts) + ((event_id % 7) + 1) * 60000000 AS end_us
        FROM events),
      m AS (SELECT *, max(end_us) OVER (
                        PARTITION BY user_id ORDER BY start_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS max_end FROM iv),
      f AS (SELECT *, CASE WHEN max_end IS NULL OR start_us > max_end
                           THEN 1 ELSE 0 END AS newi FROM m),
      i AS (SELECT *, sum(newi) OVER (
                        PARTITION BY user_id ORDER BY start_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS island FROM f)
      SELECT user_id, island::BIGINT AS island,
             min(start_us) AS span_start, max(end_us) AS span_end,
             count(*) AS n_merged
      FROM i GROUP BY user_id, island
    """,

    "q_anomaly" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(floor("value" * 1000) AS BIGINT) AS v_milli
        FROM events WHERE "value" IS NOT NULL),
      s AS (SELECT *, count(*) OVER w AS n, sum(v_milli) OVER w AS s1,
                   sum(v_milli * v_milli) OVER w AS s2
            FROM e WINDOW w AS (PARTITION BY user_id))
      SELECT user_id, event_id, v_milli, n::BIGINT AS n_key_rows
      FROM s
      WHERE n >= 10
        AND (n * v_milli - s1) * (n * v_milli - s1) > 4 * (n * s2 - s1 * s1)
    """,

    "q_asof_fwd" -> """
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events),
      cp AS (SELECT user_id,
                    (epoch_ns(ts) // 86400000000000) * 86400000000000 AS cp_ns,
                    count(*) AS cp_events
             FROM events
             GROUP BY user_id, (epoch_ns(ts) // 86400000000000) * 86400000000000
             HAVING count(*) >= 5),
      nxt AS (SELECT e.event_id, min(c.cp_ns) AS cp_ns
              FROM ev e JOIN cp c ON c.user_id = e.user_id
                                 AND c.cp_ns >= e.ts_ns
              GROUP BY 1)
      SELECT e.event_id, e.user_id, e.ts_ns,
             coalesce(n.cp_ns, -1) AS cp_ns,
             coalesce(c.cp_events, -1) AS cp_events
      FROM ev e LEFT JOIN nxt n USING (event_id)
                LEFT JOIN cp c ON c.user_id = e.user_id AND c.cp_ns = n.cp_ns
    """,

    "q_asof_nearest" -> """
      WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events),
      cp AS (SELECT user_id,
                    (epoch_ns(ts) // 86400000000000) * 86400000000000 AS cp_ns,
                    count(*) AS cp_events
             FROM events
             GROUP BY user_id, (epoch_ns(ts) // 86400000000000) * 86400000000000
             HAVING count(*) >= 5),
      prv AS (SELECT e.event_id, max(c.cp_ns) AS p
              FROM ev e JOIN cp c ON c.user_id = e.user_id
                                 AND c.cp_ns <= e.ts_ns
              GROUP BY 1),
      nx AS (SELECT e.event_id, min(c.cp_ns) AS n
             FROM ev e JOIN cp c ON c.user_id = e.user_id
                                AND c.cp_ns > e.ts_ns
             GROUP BY 1),
      pick AS (SELECT e.event_id, e.user_id, e.ts_ns,
                      CASE WHEN p IS NOT NULL AND
                                (n IS NULL OR (e.ts_ns - p) <= (n - e.ts_ns))
                           THEN p ELSE n END AS cp_ns
               FROM ev e LEFT JOIN prv USING (event_id)
                         LEFT JOIN nx USING (event_id))
      SELECT k.event_id, k.user_id, k.ts_ns,
             coalesce(k.cp_ns, -1) AS cp_ns,
             coalesce(c.cp_events, -1) AS cp_events
      FROM pick k LEFT JOIN cp c ON c.user_id = k.user_id
                              AND c.cp_ns = k.cp_ns
    """,

    "q_range_join" -> """
      WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
                         epoch_us(ts) + ((event_id % 7) + 1) * 60000000 AS e
                  FROM events)
      SELECT a.user_id, a.event_id AS l_id, b.event_id AS r_id,
             a.s AS l_start, a.e AS l_end, b.s AS r_start, b.e AS r_end,
             (least(a.e, b.e) - greatest(a.s, b.s)) AS overlap_len
      FROM iv a JOIN iv b ON a.user_id = b.user_id
                         AND a.event_id < b.event_id
                         AND a.s < b.e AND b.s < a.e
    """,

  )
}
