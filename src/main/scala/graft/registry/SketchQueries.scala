package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object SketchQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // heavy-hitter sketch, run in its EXACT regime (capacity 8 > 5
    // distinct langs ⇒ no decrement ever fires ⇒ oracle = GROUP BY);
    // the lossy regime's error bounds are spec-pinned (SketchSpec)
    "q_heavy_hitters" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .agg(graft.functions.Sketches.heavyHitters(col("lang"), 8).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.token").as("token"), col("e.est").as("est"))),

    // ---- oracle-exact sketches (functions.Sketches): the sketch
    //      CONTENTS reproduce cross-engine via the md5-derived hash ----
    "q_hll_registers" -> ((s, dir) =>
      graft.functions.Sketches.hllRegisters(
        Tables.load(s, dir, "lineitem").select(col("l_partkey")),
        "l_partkey", 8)),
    "q_countmin" -> ((s, dir) =>
      graft.functions.Sketches.countMinEstimates(
        Tables.events(s, dir)
          .select(concat(col("event_type"), lit(":"),
            pmod(col("user_id"), lit(100)).cast("string")).as("k")),
        "k", 4, 256)),

    // ---- per-group top-k via the bounded-heap aggregate (NOT a
    //      row_number window: no per-group sort, k-row partial aggs
    //      map-side) — top-3 orders by price per (custkey mod 64) ----
    "q_topk_agg" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(pmod(col("o_custkey"), lit(64)).as("grp"))
        .agg(graft.functions.Sketches.topKPairs(
          col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("grp"), posexplode(col("tk")))
        .select(col("grp"), (col("pos") + 1).cast("long").as("rank"),
                col("col.score").as("price"), col("col.id").as("okey"))),

    // ---- mergeable per-group HLL (native aggregate) beside the exact
    //      distinct it approximates — integer-only state crosses the
    //      oracle; the float estimate stays consumer-side ----
    "q_hll_groups" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.functions.Sketches
               .hllDistinct(col("user_id").cast("string"), 8).as("h"),
             countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("event_type"), col("h.n_zero_registers"),
                col("h.sum_rho"), col("h.inv_scaled"),
                col("exact_distinct"))),

    // ---- bitmask membership aggregation: which order-priority
    //      classes each customer has used, as one BIGINT mask ----
    "q_bitmap_membership" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("pri"))
        .groupBy("o_custkey")
        .agg(expr("bit_or(1 << (pri - 1))").cast("long").as("pri_mask"),
             count(lit(1)).as("n_orders"))
        .withColumn("n_priorities", expr("bit_count(pri_mask)").cast("long"))),

    // ---- HLL set algebra: audience-overlap estimation from MERGED
    //      register states (union = per-register max — the property
    //      that lets pre-computed per-segment sketches answer overlap
    //      questions without rescanning users). Integer surface: raw
    //      rho sums + inv-scaled sums (Σ 2^(53−rho) over all 256
    //      registers); the float harmonic estimate + inclusion-
    //      exclusion stay consumer-side ----
    "q_sketch_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def regs(t: String, nm: String) =
        graft.functions.Sketches.hllRegisters(
          ev.filter(col("event_type") === t).select(col("user_id")),
          "user_id", 8)
          .withColumnRenamed("max_rho", nm)
      regs("click", "rho_a")
        .join(regs("purchase", "rho_b"), Seq("register"), "full_outer")
        .select(coalesce(col("rho_a"), lit(0L)).as("ra"),
                coalesce(col("rho_b"), lit(0L)).as("rb"))
        .withColumn("ru", greatest(col("ra"), col("rb")))
        .agg(count(lit(1)).as("n_obs"),
          sum("ra").as("sum_rho_a"), sum("rb").as("sum_rho_b"),
          sum("ru").as("sum_rho_union"),
          sum(expr("shiftleft(cast(1 as bigint), cast(53 - ra as int))"))
            .as("ia"),
          sum(expr("shiftleft(cast(1 as bigint), cast(53 - rb as int))"))
            .as("ib"),
          sum(expr("shiftleft(cast(1 as bigint), cast(53 - ru as int))"))
            .as("iu"))
        .select(col("n_obs"), col("sum_rho_a"), col("sum_rho_b"),
          col("sum_rho_union"),
          (col("ia") + (lit(256L) - col("n_obs")) * lit(1L << 53))
            .as("inv_a"),
          (col("ib") + (lit(256L) - col("n_obs")) * lit(1L << 53))
            .as("inv_b"),
          (col("iu") + (lit(256L) - col("n_obs")) * lit(1L << 53))
            .as("inv_union"))
    }),

    // ---- audience-overlap Jaccard between event types: distinct
    //      (user, type) pairs self-join per user (≤k² rows each, k=5
    //      types), so intersections aggregate without ever comparing
    //      audiences pairwise at corpus scale ----
    "q_audience_overlap" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("t")).distinct()
      val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
      val inter = ut.as("a")
        .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(sizes.select(col("t").as("t1"), col("n").as("n1")), Seq("t1"))
        .join(sizes.select(col("t").as("t2"), col("n").as("n2")), Seq("t2"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_both"),
          expr("n_both * 1000000 div (n1 + n2 - n_both)")
            .as("jaccard_ppm"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_heavy_hitters" -> """
      SELECT lang AS token, count(*)::BIGINT AS est
      FROM documents GROUP BY 1
    """,

    "q_hll_registers" -> """
      WITH h AS (SELECT ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT
                   AS h FROM lineitem)
      SELECT (h % 256)::BIGINT AS register,
             max(CASE WHEN (h >> 8) = 0 THEN 53
                      ELSE 53 - length(bin(h >> 8)) END)::BIGINT AS max_rho
      FROM h GROUP BY 1
    """,

    "q_countmin" -> """
      WITH t AS (SELECT event_type || ':' || (user_id % 100)::VARCHAR AS key,
                        count(*) AS true_cnt
                 FROM events GROUP BY 1),
      sal AS (SELECT key, true_cnt, j,
                     ('0x' || substr(md5(j::VARCHAR || ':' || key), 1, 15))::BIGINT
                       % 256 AS b
              FROM t CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
      cells AS (SELECT j, b, sum(true_cnt) AS cell FROM sal GROUP BY 1, 2)
      SELECT key, max(true_cnt)::BIGINT AS true_cnt, min(cell)::BIGINT AS cm_est
      FROM sal JOIN cells USING (j, b) GROUP BY key
    """,

    "q_topk_agg" -> """
      SELECT grp, rank, o_totalprice AS price, o_orderkey AS okey FROM (
        SELECT o_custkey % 64 AS grp, o_totalprice, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey % 64
                 ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders)
      WHERE rank <= 3
    """,

    "q_hll_groups" -> """
      WITH h AS (SELECT event_type,
                        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                          AS h
                 FROM events WHERE user_id IS NOT NULL),
      r AS (SELECT event_type, h % 256 AS reg,
                   max(CASE WHEN (h >> 8) = 0 THEN 53
                            ELSE 53 - length(bin(h >> 8)) END) AS rho
            FROM h GROUP BY 1, 2),
      sk AS (SELECT event_type,
                    (256 - count(*))::BIGINT AS n_zero_registers,
                    sum(rho)::BIGINT AS sum_rho,
                    (sum(1::BIGINT << (53 - rho))
                     + (256 - count(*)) * (1::BIGINT << 53))::BIGINT
                      AS inv_scaled
             FROM r GROUP BY 1),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
             FROM events GROUP BY 1)
      SELECT sk.event_type, n_zero_registers, sum_rho, inv_scaled,
             exact_distinct
      FROM sk JOIN ex USING (event_type)
    """,

    "q_bitmap_membership" -> """
      SELECT o_custkey,
             bit_or(1::BIGINT << (substr(o_orderpriority, 1, 1)::INT - 1))
               ::BIGINT AS pri_mask,
             count(*) AS n_orders,
             bit_count(bit_or(1::BIGINT <<
               (substr(o_orderpriority, 1, 1)::INT - 1)))::BIGINT
               AS n_priorities
      FROM orders GROUP BY 1
    """,

    "q_sketch_intersect" -> """
      WITH ha AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                    AS h FROM events WHERE event_type = 'click'),
      ra AS (SELECT (h % 256)::BIGINT AS register,
                    max(CASE WHEN (h >> 8) = 0 THEN 53
                             ELSE 53 - length(bin(h >> 8)) END)::BIGINT
                      AS rho_a
             FROM ha GROUP BY 1),
      hb AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                    AS h FROM events WHERE event_type = 'purchase'),
      rb AS (SELECT (h % 256)::BIGINT AS register,
                    max(CASE WHEN (h >> 8) = 0 THEN 53
                             ELSE 53 - length(bin(h >> 8)) END)::BIGINT
                      AS rho_b
             FROM hb GROUP BY 1),
      j AS (SELECT coalesce(rho_a, 0) AS ra, coalesce(rho_b, 0) AS rb,
                   greatest(coalesce(rho_a, 0), coalesce(rho_b, 0)) AS ru
            FROM ra FULL OUTER JOIN rb ON ra.register = rb.register)
      SELECT count(*)::BIGINT AS n_obs,
             sum(ra)::BIGINT AS sum_rho_a, sum(rb)::BIGINT AS sum_rho_b,
             sum(ru)::BIGINT AS sum_rho_union,
             (sum(1::BIGINT << (53 - ra)::INT) +
              (256 - count(*)) * (1::BIGINT << 53))::BIGINT AS inv_a,
             (sum(1::BIGINT << (53 - rb)::INT) +
              (256 - count(*)) * (1::BIGINT << 53))::BIGINT AS inv_b,
             (sum(1::BIGINT << (53 - ru)::INT) +
              (256 - count(*)) * (1::BIGINT << 53))::BIGINT AS inv_union
      FROM j
    """,

    "q_audience_overlap" -> """
      WITH ut AS (SELECT DISTINCT user_id, event_type AS t FROM events),
      sizes AS (SELECT t, count(*)::BIGINT AS n FROM ut GROUP BY 1),
      inter AS (SELECT a.t AS t1, b.t AS t2, count(*)::BIGINT AS n_both
                FROM ut a JOIN ut b
                  ON a.user_id = b.user_id AND a.t < b.t
                GROUP BY 1, 2)
      SELECT t1, t2, s1.n AS n1, s2.n AS n2, n_both,
             n_both * 1000000 // (s1.n + s2.n - n_both) AS jaccard_ppm
      FROM inter
      JOIN sizes s1 ON t1 = s1.t
      JOIN sizes s2 ON t2 = s2.t
    """,
  )
}
