package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.retention.{Retention, StarAdapter}
import QueryHelpers._

/** Core query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object CoreQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- scans / filters / projections (S2, P2-P7) ----
    "q_filter_project" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_custkey"),
                to_date(col("o_orderdate")).as("order_date"),
                col("o_totalprice").as("price"),
                (col("o_orderkey") * 2 + 1).as("derived_key"))),

    // ---- aggregation (A1-A3, A6; TPC-H Q1 shape) ----
    "q_agg_sum" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("sum_disc_price"),
             round(avg(col("l_quantity")), 6).as("avg_qty"),
             count(lit(1)).as("count_order"))),

    // multiple DISTINCT aggregates (Catalyst Expand-based rewrite)
    "q_multi_distinct" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))),

    // ---- joins (J1, J8, J10) ----
    "q_join_inner" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders"),
              col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_nationkey"),
                col("c_mktsegment"))),
    "q_join_semi" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders")
                .filter(col("o_totalprice") > 150000.0),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),
    "q_join_anti" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders")
                .filter(col("o_totalprice") > 400000.0),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"))),

    // ---- windows (W1-W4) ----
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("order_rank", row_number().over(w))
        .select(col("o_orderkey"), col("o_custkey"), col("order_rank"))
    }),
    "q_window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"),
                lead(col("o_totalprice"), 1).over(w).as("next_price"),
                lag(to_date(col("o_orderdate")), 1).over(w).as("prev_date"))
    }),

    // ---- argmin/argmax aggregates (min_by/max_by) ----
    "q_minmax_by" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(max_by(col("o_totalprice"), col("o_orderkey"))
               .as("last_order_price"),
             min_by(col("o_totalprice"), col("o_orderkey"))
               .as("first_order_price"),
             count(lit(1)).as("n_orders"))),

    // ---- sorted top-k (O1/A5: ES terms-agg parity) ----
    "q_topk" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))
        .limit(100)),

    // ---- scalar date functions (§2.7) ----
    "q_dates_scalar" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
                date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"),
                date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
                trunc(to_date(col("o_orderdate")), "MM").as("month_start"),
                add_months(to_date(col("o_orderdate")), 1).as("next_month"),
                date_add(to_date(col("o_orderdate")), -365).as("lookback"),
                (unix_timestamp(col("o_orderdate")) * 1000).as("epoch_ms"))),

    // ---- CASE WHEN / COALESCE (P10, P11) ----
    "q_case_coalesce" -> ((s, dir) => {
      val oc = Tables.load(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      Tables.load(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
                coalesce(col("n"), lit(0L)).as("n_orders"),
                when(coalesce(col("n"), lit(0L)) > 10, "frequent")
                  .otherwise("rare").as("band"))
    }),

    // ---- nested collect (A7 standalone) ----
    "q_nested_collect" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(concat_ws("|",
          array_sort(collect_list(col("o_orderkey").cast("string"))))
          .as("order_keys"))),
    // generator surface (UDTF-shape): positional token explode
    "q_explode_pos" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(filter(
          split(graft.functions.TextAnalysis.normalized(col("text")), " "),
          t => t =!= "")))
        .withColumnRenamed("col", "token")),

    // ---- exact percentiles per group (distribution stats) ----
    "q_percentile" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
               .as("p"),
             count(lit(1)).as("n"))
        .select(col("l_returnflag"),
                round(col("p")(0), 6).as("p25"),
                round(col("p")(1), 6).as("p50"),
                round(col("p")(2), 6).as("p75"),
                col("n"))),

    // ---- collection scalar functions (array/map/struct surface) ----
    "q_collection_funcs" -> ((s, dir) => {
      val toks = array_distinct(split(
        graft.functions.TextAnalysis.normalized(col("text")), " "))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
                concat_ws(",", array_sort(array_intersect(toks,
                  lit(Array("the", "a", "table", "value", "row")))))
                  .as("common_toks"),
                size(toks).as("n_distinct_toks"),
                concat_ws(",", slice(array_sort(toks), 1, 3)).as("first3"),
                element_at(map_from_arrays(
                  array(lit("len")), array(length(col("text")).cast("long"))),
                  "len").as("len_via_map"),
                struct(col("doc_id").as("id"), length(col("text")).as("n"))
                  .getField("n").as("len_via_struct"))
    }),

    // ---- full outer join (both null sides populated) ----
    "q_join_full_outer" -> ((s, dir) => {
      val big = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 7000.0)
        .select(col("c_custkey"), col("c_acctbal"))
      val active = Tables.load(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 20)
      big.join(active, col("c_custkey") === col("o_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
                col("c_acctbal"), col("n_orders"))
    }),

    // ---- VARIANT semi-structured type (Spark 4 parse_json) ----
    "q_variant" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
                expr("variant_get(parse_json(props), '$.k', 'long')")
                  .as("k"),
                expr("cast(parse_json(props):k as string)").as("k_str"))
        .filter(col("k") > 50)),

    // ---- JSON column parsing (S5/P1) ----
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)),
    // ---- parent-side semi join (J9: ES has_parent) ----
    "q_join_semi_parent" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer")
                .filter(col("c_acctbal") > 5000.0),
              col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))),

    // ---- set operations ----
    "q_set_ops" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val big = c.filter(col("c_acctbal") > 5000.0).select("c_custkey")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      big.intersect(building)
        .withColumn("tag", lit("rich_building"))
        .unionByName(building.exceptAll(big)
          .withColumn("tag", lit("building_only")))
    }),

    // ---- string scalar functions ----
    "q_string_funcs" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
                upper(col("c_name")).as("name_upper"),
                substring(col("c_name"), 1, 8).as("name_prefix"),
                length(col("c_name")).as("name_len"),
                concat_ws("/", col("c_mktsegment"),
                          col("c_nationkey").cast("string")).as("seg_nation"),
                regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
                col("c_name").like("%1%").as("has_one"))),

    // ---- pivot (conditional aggregation) ----
    "q_pivot" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))),

    // ---- running aggregates over an explicit frame ----
    "q_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                count(lit(1)).over(w).as("n_so_far"),
                round(sum(col("o_totalprice")).over(w), 2).as("spent_so_far"))
    }),

    // ---- rollup / cube (multi-level aggregation, beyond the reference) ----
    "q_rollup" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             count(lit(1)).as("n"))),
    "q_cube" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
             round(sum(col("l_quantity")), 2).as("sum_qty"),
             count(lit(1)).as("n"))),

    "q_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
      """)
    }),

    // ---- analytic window functions beyond the reference's four ----
    "q_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                ntile(4).over(w).as("quartile"),
                dense_rank().over(w).as("drank"),
                percent_rank().over(w).as("pct_rank"),
                cume_dist().over(w).as("cdist"),
                nth_value(col("o_totalprice"), 2)
                  .over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing))
                  .as("second_price"))
    }),

    // ---- correlated + uncorrelated scalar subqueries (SQL surface) ----
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, c_acctbal,
               (SELECT max(o_totalprice) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c
        WHERE c_acctbal > 0.9 * (SELECT max(c_acctbal) FROM customer)
      """)
    }),
    "q_band_join" -> ((s, dir) => {
      val admits = Retention.householdAdmitDates(
        StarAdapter.persons(s, dir), StarAdapter.encounters(s, dir),
        StarAdapter.config(s, dir))
      admits.as("cur").join(admits.as("prv"),
          col("cur.household_id") === col("prv.household_id") &&
          col("prv.admit_date") < col("cur.admit_date") &&
          col("prv.admit_date") >= date_add(col("cur.admit_date"), -365))
        .groupBy(col("cur.household_id").as("household_id"),
                 col("cur.admit_date").as("admit_date"))
        .agg(count(lit(1)).as("n_prior"))
    }),

    // ---- TPC-H Q5-shape star join: one fact chain, four broadcast
    //      dims, Catalyst picks the join order. Revenue in integer
    //      cents: the per-row product is one deterministic IEEE
    //      expression, the SUM is then order-independent BIGINT ----
    "q_star_join" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders"),
              col("c_custkey") === col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem"),
              col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "supplier"),
              col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
        .join(Tables.load(s, dir, "nation"),
              col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region"),
              col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
                year(col("o_orderdate")) === 1996)
        .groupBy(col("n_name"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
                       * 100 + 0.5).cast("long")).as("revenue_cents"),
             count(lit(1)).as("n_items"))),

    // ---- wide→long unpivot (Dataset.unpivot / SQL UNPIVOT) ----
    "q_unpivot" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity").as("quantity"),
                col("l_extendedprice").as("price"),
                col("l_discount").as("discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
                 Array(col("quantity"), col("price"), col("discount")),
                 "measure", "value")),

    // ---- recursive CTE (Spark 4 UnionLoop): ancestor walk over the
    //      implicit c_custkey div 2 binary-tree hierarchy ----
    "q_recursive_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH RECURSIVE anc(node, parent, depth) AS (
          SELECT c_custkey, c_custkey div 2, 1
          FROM customer WHERE c_custkey > 1 AND c_custkey < 200
          UNION ALL
          SELECT node, parent div 2, depth + 1 FROM anc WHERE parent > 1
        )
        SELECT node, max(depth) AS depth_to_root FROM anc GROUP BY node
      """)
    }),

    // ---- correlated LATERAL subquery: per-customer top-2 orders
    //      (the join-then-rank alternative to a window) ----
    "q_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      """)
    }),

    // ---- running distinct count over a window (Spark lacks DISTINCT
    //      window aggregates; size∘collect_set is the idiomatic dual
    //      of the oracle's count(DISTINCT) OVER) ----
    "q_window_distinct" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 3000)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
                size(collect_set(col("l_partkey")).over(w))
                  .as("distinct_parts"))
    }),

    // ---- RANGE window frame (value-based, not row-count): 30-day
    //      rolling spend per customer; integer day index + cents so
    //      frame contents and sums are deterministic cross-engine ----
    "q_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("d"))
        .rangeBetween(-29, 0)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
                datediff(to_date(col("o_orderdate")),
                         lit("1990-01-01").cast("date")).as("d"),
                floor(col("o_totalprice") * 100 + 0.5).cast("long")
                  .as("cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("d"),
                count(lit(1)).over(w).as("n_30d"),
                sum(col("cents")).over(w).as("spend_cents_30d"))
    }),

    // ---- equi-width histogram via integer binning (floor of an IEEE
    //      division — deterministic cross-engine, unlike width_bucket
    //      edge semantics) ----
    "q_histogram" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy((floor(col("o_totalprice") / 50000) * 50000)
                   .cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n"),
             min(col("o_totalprice")).as("min_price"),
             max(col("o_totalprice")).as("max_price"))),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_filter_project" -> """
      SELECT o_orderkey, o_custkey, o_orderdate::DATE AS order_date,
             o_totalprice AS price, (o_orderkey * 2 + 1) AS derived_key
      FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
    """,
    "q_agg_sum" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             count(*) AS count_order
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_returnflag, l_linestatus
    """,
    "q_multi_distinct" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_returnflag
    """,
    "q_join_inner" -> """
      SELECT o_orderkey, c_custkey, c_nationkey, c_mktsegment
      FROM customer JOIN orders ON c_custkey = o_custkey
    """,
    "q_join_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
    """,
    "q_join_anti" -> """
      SELECT c_custkey, c_nationkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
    """,
    "q_window_rank" -> """
      SELECT o_orderkey, o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS order_rank
      FROM orders
    """,
    "q_window_lag_lead" -> """
      SELECT o_orderkey, o_custkey,
             lag(o_totalprice, 1, 0.0) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price,
             lag(o_orderdate::DATE, 1) OVER w AS prev_date
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q_minmax_by" -> """
      SELECT o_custkey,
             arg_max(o_totalprice, o_orderkey) AS last_order_price,
             arg_min(o_totalprice, o_orderkey) AS first_order_price,
             count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    """,
    "q_topk" -> """
      SELECT o_custkey, count(*) AS n_orders FROM orders
      GROUP BY o_custkey ORDER BY o_custkey LIMIT 100
    """,
    "q_dates_scalar" -> """
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS d_str,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
             date_trunc('month', o_orderdate)::DATE AS month_start,
             (o_orderdate::DATE + INTERVAL 1 MONTH)::DATE AS next_month,
             o_orderdate::DATE - 365 AS lookback,
             (epoch(o_orderdate) * 1000)::BIGINT AS epoch_ms
      FROM orders
    """,
    "q_case_coalesce" -> """
      WITH oc AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
      SELECT c_custkey, coalesce(n, 0) AS n_orders,
             CASE WHEN coalesce(n, 0) > 10 THEN 'frequent' ELSE 'rare' END AS band
      FROM customer LEFT JOIN oc ON c_custkey = o_custkey
    """,
    "q_nested_collect" -> """
      SELECT o_custkey,
             string_agg(o_orderkey::VARCHAR, '|' ORDER BY o_orderkey::VARCHAR)
               AS order_keys
      FROM orders GROUP BY o_custkey
    """,
    "q_explode_pos" -> s"""
      SELECT doc_id, u.pos, u.tok AS token FROM (
        SELECT doc_id, unnest(list_transform(range(len(t)),
                 i -> {'pos': i, 'tok': t[i+1]})) AS u
        FROM (SELECT doc_id, list_filter($duckToks, x -> x <> '') AS t
              FROM documents))
    """,
    "q_percentile" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag
    """,
    "q_collection_funcs" -> s"""
      SELECT doc_id,
             coalesce(array_to_string(list_sort(list_intersect(toks,
               ['the', 'a', 'table', 'value', 'row'])), ','), '')
               AS common_toks,
             len(toks) AS n_distinct_toks,
             array_to_string(list_sort(toks)[1:3], ',') AS first3,
             map(['len'], [length(text)::BIGINT])['len'][1] AS len_via_map,
             ({'id': doc_id, 'n': length(text)}).n AS len_via_struct
      FROM (SELECT doc_id, text, list_distinct($duckToks) AS toks
            FROM documents)
    """,
    "q_join_full_outer" -> """
      WITH big AS (SELECT c_custkey, c_acctbal FROM customer
                   WHERE c_acctbal > 7000.0),
      active AS (SELECT o_custkey, count(*) AS n_orders FROM orders
                 GROUP BY o_custkey HAVING count(*) >= 20)
      SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal, n_orders
      FROM big FULL JOIN active ON c_custkey = o_custkey
    """,
    "q_variant" -> """
      SELECT event_id,
             json_extract_string(props, '$.k')::BIGINT AS k,
             json_extract_string(props, '$.k') AS k_str
      FROM events
      WHERE json_extract_string(props, '$.k')::BIGINT > 50
    """,
    "q_json_extract" -> """
      SELECT event_id, k FROM (
        SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
        FROM events)
      WHERE k > 50
    """,
    "q_join_semi_parent" -> """
      SELECT o_orderkey, o_custkey FROM orders
      WHERE EXISTS (SELECT 1 FROM customer
                    WHERE c_custkey = o_custkey AND c_acctbal > 5000.0)
    """,
    "q_set_ops" -> """
      WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0),
      building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      SELECT c_custkey, 'rich_building' AS tag
      FROM (SELECT c_custkey FROM big INTERSECT SELECT c_custkey FROM building)
      UNION ALL
      SELECT c_custkey, 'building_only' AS tag
      FROM (SELECT c_custkey FROM building EXCEPT ALL SELECT c_custkey FROM big)
    """,
    "q_string_funcs" -> """
      SELECT c_custkey,
             upper(c_name) AS name_upper,
             substr(c_name, 1, 8) AS name_prefix,
             length(c_name) AS name_len,
             concat_ws('/', c_mktsegment, c_nationkey::VARCHAR) AS seg_nation,
             coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits,
             (c_name LIKE '%1%') AS has_one
      FROM customer
    """,
    "q_pivot" -> """
      SELECT o_custkey,
             count(*) FILTER (o_orderstatus = 'F') AS n_f,
             count(*) FILTER (o_orderstatus = 'O') AS n_o,
             count(*) FILTER (o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_custkey
    """,
    "q_running_total" -> """
      SELECT o_orderkey, o_custkey,
             count(*) OVER w AS n_so_far,
             round(sum(o_totalprice) OVER w, 2) AS spent_so_far
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING)
    """,
    "q_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_cube" -> """
      SELECT l_returnflag, l_linestatus,
             GROUPING(l_returnflag, l_linestatus) AS gid,
             round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                              (l_returnflag, l_linestatus))
    """,
    "q_window_analytics" -> """
      SELECT o_orderkey, o_custkey,
             ntile(4) OVER w AS quartile,
             dense_rank() OVER w AS drank,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cdist,
             nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    "q_scalar_subquery" -> """
      SELECT c_custkey, c_acctbal,
             (SELECT max(o_totalprice) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS max_order,
             (SELECT count(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer c
      WHERE c_acctbal > 0.9 * (SELECT max(c_acctbal) FROM customer)
    """,
    "q_band_join" -> """
      WITH persons AS (SELECT c_custkey AS person_id,
                              (c_custkey // 2) AS household_id FROM customer),
      anchor AS (SELECT max(o_orderdate)::DATE AS d FROM orders),
      admits AS (SELECT DISTINCT p.household_id, o.o_orderdate::DATE AS admit_date
                 FROM orders o JOIN persons p ON o.o_custkey = p.person_id, anchor a
                 WHERE o.o_orderdate::DATE
                       BETWEEN (a.d - INTERVAL 5 YEAR)::DATE AND a.d)
      SELECT cur.household_id AS household_id, cur.admit_date AS admit_date,
             count(*) AS n_prior
      FROM admits cur JOIN admits prv
        ON cur.household_id = prv.household_id
       AND prv.admit_date < cur.admit_date
       AND prv.admit_date >= cur.admit_date - 365
      GROUP BY 1, 2
    """,
    "q_star_join" -> """
      SELECT n_name,
             sum(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
                 ::BIGINT)::BIGINT AS revenue_cents,
             count(*) AS n_items
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
      GROUP BY n_name
    """,
    "q_unpivot" -> """
      SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, l_quantity AS quantity,
               l_extendedprice AS price, l_discount AS discount
        FROM lineitem WHERE l_orderkey < 1000)
      UNPIVOT (value FOR measure IN (quantity, price, discount))
    """,
    "q_recursive_cte" -> """
      WITH RECURSIVE anc(node, parent, depth) AS (
        SELECT c_custkey, c_custkey // 2, 1
        FROM customer WHERE c_custkey > 1 AND c_custkey < 200
        UNION ALL
        SELECT node, parent // 2, depth + 1 FROM anc WHERE parent > 1
      )
      SELECT node, max(depth) AS depth_to_root FROM anc GROUP BY node
    """,
    "q_lateral" -> """
      SELECT c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
    "q_window_distinct" -> """
      SELECT l_returnflag, l_orderkey, l_linenumber,
             count(DISTINCT l_partkey) OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS distinct_parts
      FROM lineitem WHERE l_orderkey < 3000
    """,
    "q_histogram" -> """
      SELECT (floor(o_totalprice / 50000) * 50000)::BIGINT AS bucket_lo,
             count(*) AS n, min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price
      FROM orders GROUP BY 1
    """,
    "q_range_frame" -> """
      WITH o AS (SELECT o_custkey, o_orderkey,
                   date_diff('day', DATE '1990-01-01', o_orderdate::DATE)
                     AS d,
                   floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
                 FROM orders)
      SELECT o_custkey, o_orderkey, d,
             count(*) OVER w AS n_30d,
             (sum(cents) OVER w)::BIGINT AS spend_cents_30d
      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
  )
}
