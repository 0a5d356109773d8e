package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Business query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object BusinessQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- survival/tenure curve: per day-offset k, users whose
    //      observed lifespan reaches k and users churning exactly at k
    //      (integer counts only; the survival ratio is a consumer-side
    //      division) ----
    "q_survival" -> ((s, dir) => {
      val life = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .groupBy("user_id")
        .agg((max("day") - min("day")).as("tenure_days"))
      life.select(col("user_id"), col("tenure_days"),
          explode(sequence(lit(0L), col("tenure_days"))).as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("at_risk"),
             count(when(col("tenure_days") === col("k"), 1)).as("churned"))
    }),

    // ---- rank movers: per-brand revenue rank shift between the
    //      early (<1997) and late halves of the shipping range ----
    "q_rank_movers" -> ((s, dir) => {
      val rev = Tables.load(s, dir, "lineitem")
        .withColumn("period",
          when(year(col("l_shipdate")) < 1997, "early").otherwise("late"))
        .join(Tables.load(s, dir, "part")
                .select(col("p_partkey"), col("p_brand")),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("period"), col("p_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      val w = Window.partitionBy("p_brand", "period")
        .orderBy(col("rev").desc, col("p_partkey"))
      val ranked = rev.withColumn("rk", row_number().over(w))
      // early/late pairing as a conditional pivot, not a self-join: the
      // `ranked` subtree referenced twice re-ran the lineitem⋈part
      // aggregation per side (two full fact scans) and then paid a
      // sort-merge join; each (brand, partkey) has at most one row per
      // period, so max(when(period=…)) over ONE pass is the identical
      // inner-join pairing (both-periods-present ⇔ both pivots
      // non-null). coalesce after the filter restores the join's
      // non-null output schema.
      ranked.groupBy(col("p_brand"), col("p_partkey"))
        .agg(max(when(col("period") === "early", col("rk"))).as("__e"),
             max(when(col("period") === "late", col("rk"))).as("__l"))
        .filter(col("__e").isNotNull && col("__l").isNotNull)
        .select(col("p_brand"), col("p_partkey"),
          coalesce(col("__e"), lit(0)).as("rk_early"),
          coalesce(col("__l"), lit(0)).as("rk_late"),
          coalesce(col("__e") - col("__l"), lit(0)).as("delta"))
    }),

    // ---- deterministic experiment assignment: salted-hash 50/50
    //      variant split, exposure-balance surface per event type
    //      (the sample-ratio-mismatch check's integer inputs) ----
    "q_ab_assign" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"))
        .distinct()
        .withColumn("variant",
          when(pmod(graft.functions.Dedup.md5Hash60(
            concat(lit("exp1:"), col("user_id"))), lit(100)) < 50, "A")
            .otherwise("B"))
        .groupBy("event_type")
        .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
             sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
        .withColumn("delta", col("n_a") - col("n_b"))),

    // ---- experiment outcome contingency: per variant, users who did
    //      vs did not convert (purchase) — the chi-square test's
    //      integer inputs, completing q_ab_assign's exposure side ----
    "q_ab_outcomes" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val users = ev.select(col("user_id")).distinct()
        .withColumn("variant",
          when(pmod(graft.functions.Dedup.md5Hash60(
            concat(lit("exp1:"), col("user_id"))), lit(100)) < 50, "A")
            .otherwise("B"))
      val converted = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("conv", lit(1L))
      users.join(converted, Seq("user_id"), "left")
        .groupBy("variant")
        .agg(sum(coalesce(col("conv"), lit(0L))).as("n_converted"),
             count(lit(1)).as("n_users"))
        .withColumn("conv_ppm",
          expr("n_converted * 1000000 div n_users"))
    }),

    // ---- RFM segmentation: recency/frequency/monetary quartile codes
    //      per customer, each via the portable (rank−1)·4 div n rule
    //      (higher code = better on every axis) ----
    "q_rfm" -> ((s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
             count(lit(1)).as("freq"),
             sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
               .as("monetary"))
      // three global ranks over the customer dimension — distributed
      // numbering (the dimension is fact-table-independent but still
      // grows with the business; three single-partition sorts was the
      // WindowExec scale trap); quartile code = (rank−1)·4 div n,
      // ties broken by custkey so higher code = better on every axis.
      // Auto-gated (round-14): below the threshold three tiny plain
      // windows beat three distributed stage taxes; the first gate's
      // persist of `per` is also the cache the n_cust aggregate hits
      def code(c: String) =
        expr(s"(cast(rk_$c as bigint) - 1) * 4 div n_cust")
      graft.operators.GlobalOrder.withRowNumberAuto(
          graft.operators.GlobalOrder.withRowNumberAuto(
            graft.operators.GlobalOrder.withRowNumberAuto(
              per, Seq(col("last_day"), col("o_custkey")), "rk_last_day"),
            Seq(col("freq"), col("o_custkey")), "rk_freq"),
          Seq(col("monetary"), col("o_custkey")), "rk_monetary")
        .crossJoin(broadcast(per.agg(count(lit(1)).as("n_cust"))))
        .select(col("o_custkey"),
          code("last_day").as("r_code"),
          code("freq").as("f_code"),
          code("monetary").as("m_code"))
        .withColumn("rfm", expr("r_code * 100 + f_code * 10 + m_code"))
    }),

    // ---- churn-risk / dormancy signal: per user, idle time since the
    //      last event vs that user's own mean inter-event gap, as an
    //      exact ppm ratio. Millisecond granularity keeps the ×10⁶
    //      numerator inside BIGINT for any realistic corpus span
    //      (µs × 10⁶ would overflow); one groupBy + one broadcast
    //      scalar, no windows ----
    "q_churn_risk" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000000").as("ms"))
      val asOf = e.agg(max("ms").as("as_of_ms"))
      e.groupBy("user_id")
        .agg(min("ms").as("first_ms"), max("ms").as("last_ms"),
             count(lit(1)).as("n_events"))
        .filter(col("n_events") > 1)
        .crossJoin(broadcast(asOf))
        .withColumn("mean_gap_ms",
          expr("(last_ms - first_ms) div (n_events - 1)"))
        .filter(col("mean_gap_ms") > 0)
        .withColumn("idle_ms", col("as_of_ms") - col("last_ms"))
        .withColumn("overdue_ppm",
          expr("idle_ms * 1000000 div mean_gap_ms"))
        .select(col("user_id"), col("n_events"), col("mean_gap_ms"),
          col("idle_ms"), col("overdue_ppm"),
          when(col("overdue_ppm") > 3000000L, 1L).otherwise(0L)
            .as("at_risk"))
    }),

    // ---- growth accounting: daily actives decomposed into new /
    //      retained / resurrected, plus how many churn out after the
    //      period. Integer epoch-day index sidesteps engine-specific
    //      date-interval coercion; one distinct on (user, day) then
    //      one user-partitioned window pass ----
    "q_growth_accounting" -> ((s, dir) => {
      val um = Tables.events(s, dir)
        .select(col("user_id"),
          expr("ts_ns div 86400000000000").as("m_idx"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("m_idx")
      um
        .withColumn("first_m", min("m_idx").over(
          Window.partitionBy("user_id")))
        .withColumn("prev_m", lag("m_idx", 1).over(w))
        .withColumn("next_m", lead("m_idx", 1).over(w))
        .groupBy("m_idx")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("m_idx") === col("first_m"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("prev_m") === col("m_idx") - 1, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("m_idx") > col("first_m") &&
                   (col("prev_m").isNull ||
                    col("prev_m") < col("m_idx") - 1), 1L).otherwise(0L))
            .as("n_resurrected"),
          sum(when(col("next_m").isNull ||
                   col("next_m") > col("m_idx") + 1, 1L).otherwise(0L))
            .as("n_churned_after"))
    }),

    // ---- discount-response curve: per discount band (cents), volume
    //      and revenue response — one map-side bucketing + one groupBy,
    //      ppm-exact mean quantity ----
    "q_discount_response" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(floor(col("l_discount") * 100 + 0.5).cast("long")
          .as("disc_pct"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("total_qty"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("rev_cents"))
        .withColumn("qty_per_item_ppm",
          expr("total_qty * 1000000 div n_items"))),

    // ---- cohort LTV curve: cumulative purchase revenue per user by
    //      account age (days since the user's first event). Per-age
    //      revenue aggregates first, so the cumulative window runs
    //      over ~|corpus days| rows; exact cents and ppm-per-user ----
    "q_ltv_curve" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"),
          expr("ts_ns div 86400000000000").as("day"),
          when(col("event_type") === "purchase",
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)
            .as("cents"))
      val f = e.groupBy("user_id").agg(min("day").as("first_day"))
      val nU = f.agg(count(lit(1)).as("n_users"))
      e.join(f, "user_id")
        .groupBy((col("day") - col("first_day")).as("age"))
        .agg(sum("cents").as("age_rev"))
        .crossJoin(broadcast(nU))
        .withColumn("cum_rev", sum("age_rev").over(
          Window.orderBy("age")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("age"), col("age_rev"), col("cum_rev"),
          expr("cum_rev * 1000000 div n_users").as("ltv_micro"))
    }),

    // ---- survivorship election: per near-dup cluster, keep ONE
    //      canonical document by (longest text, then lowest id) — the
    //      curation step after q_dedup_clusters labels components.
    //      Election is a row_number window partitioned by component;
    //      output one row per MULTI-document cluster with the kept id
    //      and how many it displaces ----
    "q_survivorship" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // shared component labeling (one CC run serves clusters /
      // survivorship / leak-free split — see dedupComponentsFor)
      val comp = dedupComponentsFor(s, dir)
      val labeled = comp.join(docs.select(col("doc_id").as("node"),
        col("n_chars")), "node")
      val w = Window.partitionBy("component")
        .orderBy(col("n_chars").desc, col("node"))
      labeled
        .withColumn("rk", row_number().over(w))
        .groupBy("component")
        .agg(count(lit(1)).as("n_docs"),
          min(when(col("rk") === 1, col("node"))).as("keep_id"),
          max(when(col("rk") === 1, col("n_chars"))).as("keep_chars"))
        .filter(col("n_docs") > 1)
    }),

    // ---- Laspeyres price index per brand: year-over-year price level
    //      weighted by BASE-year quantities. Unit values are integer
    //      milli-cents (sum_cents·1000 div sum_qty) so both engines
    //      floor identically; base/current years derived from the data
    //      and broadcast; only parts traded in both years contribute ----
    "q_price_index" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("l_partkey"),
          year(col("l_shipdate")).cast("long").as("yr"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("cents"),
          col("l_quantity").cast("long").as("qty"))
      val yrs = li.agg(min("yr").as("y0"), max("yr").as("y1"))
      // base/current unit values as ONE conditional aggregation, not a
      // self-joined pair of filters over a shared groupBy: the `uv`
      // subtree referenced twice re-ran the fact aggregation per side
      // (two more full scans on top of the yrs scan) and paid a
      // sort-merge join. Each (brand, partkey) has at most one y0 row
      // and one y1 row, so per-year conditional sums in a single pass
      // compute the identical unit values, and both-years-present is
      // exactly "both conditional sums non-null". The same yr===y0 /
      // yr=!=y0 predicates keep the single-year edge case (y0=y1 →
      // empty result) bit-identical.
      li.crossJoin(broadcast(yrs))
        .filter(col("yr") === col("y0") || col("yr") === col("y1"))
        .groupBy("brand", "l_partkey")
        .agg(sum(when(col("yr") === col("y0"), col("cents"))).as("c0"),
          sum(when(col("yr") === col("y0"), col("qty"))).as("q0"),
          sum(when(col("yr") =!= col("y0"), col("cents"))).as("c1"),
          sum(when(col("yr") =!= col("y0"), col("qty"))).as("q1"))
        .filter(col("q0").isNotNull && col("q1").isNotNull)
        .select(col("brand"),
          expr("c0 * 1000 div q0").as("uv0"), col("q0"),
          expr("c1 * 1000 div q1").as("uv1"))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          sum(expr("uv1 * q0")).as("num"),
          sum(expr("uv0 * q0")).as("den"))
        // num reaches ~1.5e12 per brand at sf0.1, so num * 1e6 overflows
        // BIGINT — widen the intermediate to decimal(38,0) (DuckDB's
        // mirror is already HUGEINT); the quotient is ppm-scale, well
        // inside long
        .withColumn("index_ppm",
          expr("cast(cast(num as decimal(38,0)) * 1000000 div den as bigint)"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(

    "q_survival" -> """
      WITH life AS (SELECT user_id,
                           max(epoch_ns(ts) // 86400000000000) -
                           min(epoch_ns(ts) // 86400000000000) AS tenure_days
                    FROM events GROUP BY 1),
      expanded AS (SELECT user_id, tenure_days,
                          unnest(range(0, tenure_days + 1)) AS k
                   FROM life)
      SELECT k, count(*) AS at_risk,
             count(*) FILTER (tenure_days = k) AS churned
      FROM expanded GROUP BY k
    """,

    "q_rank_movers" -> """
      WITH rev AS (SELECT p_brand,
                          CASE WHEN year(l_shipdate) < 1997
                               THEN 'early' ELSE 'late' END AS period,
                          p_partkey,
                          sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)
                            AS rev
                   FROM lineitem JOIN part ON l_partkey = p_partkey
                   GROUP BY 1, 2, 3),
      rk AS (SELECT *, row_number() OVER (PARTITION BY p_brand, period
                                          ORDER BY rev DESC, p_partkey)
                        AS rk
             FROM rev)
      SELECT e.p_brand, e.p_partkey, e.rk AS rk_early, l.rk AS rk_late,
             (e.rk - l.rk)::BIGINT AS delta
      FROM rk e JOIN rk l ON e.p_brand = l.p_brand
                         AND e.p_partkey = l.p_partkey
      WHERE e.period = 'early' AND l.period = 'late'
    """,

    "q_ab_assign" -> """
      WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      v AS (SELECT event_type,
                   CASE WHEN ('0x' || substr(md5('exp1:' || user_id::VARCHAR),
                                             1, 15))::BIGINT % 100 < 50
                        THEN 'A' ELSE 'B' END AS variant
            FROM u)
      SELECT event_type,
             sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b,
             (sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) -
              sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END))::BIGINT AS delta
      FROM v GROUP BY 1
    """,

    "q_ab_outcomes" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      v AS (SELECT user_id,
                   CASE WHEN ('0x' || substr(md5('exp1:' || user_id::VARCHAR),
                                             1, 15))::BIGINT % 100 < 50
                        THEN 'A' ELSE 'B' END AS variant
            FROM u),
      c AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase')
      SELECT variant,
             sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_converted,
             count(*) AS n_users,
             ((sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
               * 1000000) // count(*))::BIGINT AS conv_ppm
      FROM v LEFT JOIN c USING (user_id)
      GROUP BY 1
    """,

    "q_rfm" -> """
      WITH per AS (SELECT o_custkey, max(o_orderdate::DATE) AS last_day,
                          count(*) AS freq,
                          sum(floor(o_totalprice * 100 + 0.5)::BIGINT)
                            AS monetary
                   FROM orders GROUP BY 1),
      rk AS (SELECT o_custkey,
                    row_number() OVER (ORDER BY last_day, o_custkey) AS r1,
                    row_number() OVER (ORDER BY freq, o_custkey) AS r2,
                    row_number() OVER (ORDER BY monetary, o_custkey) AS r3,
                    count(*) OVER () AS n
             FROM per)
      SELECT o_custkey,
             ((r1 - 1) * 4 // n)::BIGINT AS r_code,
             ((r2 - 1) * 4 // n)::BIGINT AS f_code,
             ((r3 - 1) * 4 // n)::BIGINT AS m_code,
             (((r1 - 1) * 4 // n) * 100 + ((r2 - 1) * 4 // n) * 10 +
              ((r3 - 1) * 4 // n))::BIGINT AS rfm
      FROM rk
    """,

    "q_churn_risk" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms
                 FROM events),
      per AS (SELECT user_id, min(ms) AS first_ms, max(ms) AS last_ms,
                     count(*) AS n_events
              FROM e GROUP BY 1 HAVING count(*) > 1),
      g AS (SELECT *, (last_ms - first_ms) // (n_events - 1) AS mean_gap_ms,
                   (SELECT max(ms) FROM e) - last_ms AS idle_ms
            FROM per)
      SELECT user_id, n_events, mean_gap_ms, idle_ms,
             idle_ms * 1000000 // mean_gap_ms AS overdue_ppm,
             (CASE WHEN idle_ms * 1000000 // mean_gap_ms > 3000000
                   THEN 1 ELSE 0 END)::BIGINT AS at_risk
      FROM g WHERE mean_gap_ms > 0
    """,

    "q_growth_accounting" -> """
      WITH um AS (SELECT DISTINCT user_id,
                         epoch_ns(ts) // 86400000000000 AS m_idx
                  FROM events),
      s AS (SELECT *,
                   min(m_idx) OVER (PARTITION BY user_id) AS first_m,
                   lag(m_idx) OVER (PARTITION BY user_id
                                    ORDER BY m_idx) AS prev_m,
                   lead(m_idx) OVER (PARTITION BY user_id
                                     ORDER BY m_idx) AS next_m
            FROM um)
      SELECT m_idx, count(*) AS n_active,
             sum(CASE WHEN m_idx = first_m THEN 1 ELSE 0 END)::BIGINT
               AS n_new,
             sum(CASE WHEN prev_m = m_idx - 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_retained,
             sum(CASE WHEN m_idx > first_m
                       AND (prev_m IS NULL OR prev_m < m_idx - 1)
                      THEN 1 ELSE 0 END)::BIGINT AS n_resurrected,
             sum(CASE WHEN next_m IS NULL OR next_m > m_idx + 1
                      THEN 1 ELSE 0 END)::BIGINT AS n_churned_after
      FROM s GROUP BY 1
    """,

    "q_discount_response" -> """
      SELECT floor(l_discount * 100 + 0.5)::BIGINT AS disc_pct,
             count(*) AS n_items,
             sum(l_quantity::BIGINT)::BIGINT AS total_qty,
             sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
               AS rev_cents,
             (sum(l_quantity::BIGINT) * 1000000 // count(*))::BIGINT
               AS qty_per_item_ppm
      FROM lineitem GROUP BY 1
    """,

    "q_ltv_curve" -> """
      WITH e AS (SELECT user_id,
                        epoch_ns(ts) // 86400000000000 AS day,
                        CASE WHEN event_type = 'purchase'
                             THEN floor(value * 100 + 0.5)::BIGINT
                             ELSE 0 END AS cents
                 FROM events),
      f AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1),
      n AS (SELECT count(*) AS n_users FROM f),
      byage AS (SELECT e.day - f.first_day AS age,
                       sum(e.cents)::BIGINT AS age_rev
                FROM e JOIN f USING (user_id) GROUP BY 1)
      SELECT age, age_rev,
             (sum(age_rev) OVER (ORDER BY age
                ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_rev,
             ((sum(age_rev) OVER (ORDER BY age ROWS UNBOUNDED PRECEDING))
               * 1000000 // n_users)::BIGINT AS ltv_micro
      FROM byage CROSS JOIN n
    """,

    "q_survivorship" -> s"""
      WITH RECURSIVE $minhashLshCtes,
      sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
              UNION SELECT doc_b, doc_a FROM lsh_pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
      ),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      lab AS (SELECT c.node, c.component, d.n_chars
              FROM comp c JOIN documents d ON c.node = d.doc_id),
      rk AS (SELECT *, row_number() OVER (PARTITION BY component
                         ORDER BY n_chars DESC, node) AS rk
             FROM lab)
      SELECT component, count(*) AS n_docs,
             min(CASE WHEN rk = 1 THEN node END) AS keep_id,
             max(CASE WHEN rk = 1 THEN n_chars END) AS keep_chars
      FROM rk GROUP BY 1 HAVING count(*) > 1
    """,

    "q_price_index" -> """
      WITH li AS (SELECT p.p_brand AS brand, l.l_partkey,
                         year(l.l_shipdate)::BIGINT AS yr,
                         floor(l.l_extendedprice * 100 + 0.5)::BIGINT
                           AS cents,
                         l.l_quantity::BIGINT AS qty
                  FROM lineitem l JOIN part p
                    ON l.l_partkey = p.p_partkey),
      yrs AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM li),
      uv AS (SELECT brand, l_partkey, yr, y0,
                    sum(cents) * 1000 // sum(qty) AS uv_milli,
                    sum(qty)::BIGINT AS q
             FROM li CROSS JOIN yrs
             WHERE yr = y0 OR yr = y1
             GROUP BY 1, 2, 3, 4),
      base AS (SELECT brand, l_partkey, uv_milli AS uv0, q AS q0
               FROM uv WHERE yr = y0),
      cur AS (SELECT brand, l_partkey, uv_milli AS uv1
              FROM uv WHERE yr <> y0)
      SELECT brand, count(*) AS n_parts,
             sum(uv1 * q0)::BIGINT AS num,
             sum(uv0 * q0)::BIGINT AS den,
             (sum(uv1 * q0) * 1000000 // sum(uv0 * q0))::BIGINT
               AS index_ppm
      FROM base JOIN cur USING (brand, l_partkey)
      GROUP BY 1
    """,
  )
}
