package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Graph query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object GraphQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // connected components on an adversarial PATH graph (dedup graphs
    // are near-cliques; this pins the pointer-jumping O(log n) path at
    // bench scale): orders chained by consecutive orderkey within
    // 4096-key buckets → component = bucket-min orderkey, which the
    // oracle reproduces with a plain window
    "q_cc_path" -> ((s, dir) => {
      // keyspace bounded at 60000 (≈15k nodes): the adversarial part is
      // the PATH SHAPE (≈1k-node chains per bucket → ~11 pointer-jump
      // rounds), not bulk — unbounded, the per-round fixed cost times
      // 150k nodes at sf0.1 made this one query ~25% of the bench
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 60000)
        .select(col("o_orderkey").as("id"),
                expr("o_orderkey div 4096").as("b"))
      val w = Window.partitionBy("b").orderBy("id")
      val edges = o.withColumn("u", lag(col("id"), 1).over(w))
        .filter(col("u").isNotNull)
        .select(col("u"), col("id").as("v"))
      graft.operators.ConnectedComponents.run(o.select("id"), edges)
    }),

    // ---- integer-exact PageRank over the customer↔supplier graph
    //      (disjoint node ids: cust·2, supp·2+1); fixed iterations,
    //      oracle unrolls them — the kmeans recipe for graphs ----
    "q_pagerank" -> ((s, dir) => {
      // orderkey-bounded like q_cc_path: the measured object is the
      // iteration mechanics, not bulk edge volume
      val edges = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 60000)
        .join(Tables.load(s, dir, "lineitem"),
              col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("u"),
                (col("l_suppkey") * 2 + 1).as("v"))
      graft.operators.PageRank.integerPageRank(
        edges.union(edges.select(col("v").as("u"), col("u").as("v"))), 3)
    }),

    // ---- graph: triangle count over the supplier co-occurrence graph
    //      (suppliers sharing ≥5 orders — at sf0.1 the ≥3 graph has
    //      avg degree 428 and ~22M wedges; ≥5 keeps the sf0.01
    //      correctness graph near-complete while the bench graph
    //      stays wedge-bounded), degree-ordered wedge join ----
    "q_triangles" -> ((s, dir) => {
      val edges = coEdgesFor(s, dir).select("u", "v")
      graft.operators.Triangles.count(edges)
    }),

    // ---- per-node local clustering coefficient over the supplier
    //      co-occurrence graph (same edge rule as q_triangles) ----
    "q_cluster_coeff" -> ((s, dir) => {
      val edges = coEdgesFor(s, dir).select("u", "v")
      graft.operators.Triangles.clusteringCoefficient(edges)
    }),

    // ---- link prediction scores: common-neighbor count + resource-
    //      allocation index (integer micro-units, 10⁶ div deg) for
    //      every 2-hop pair, flagged is_edge — consumers filter
    //      is_edge = 0 for candidate links (co-occurrence density
    //      varies with sf, so the non-edge set alone can be empty at
    //      small scale; scoring both classes keeps the oracle
    //      non-vacuous everywhere) ----
    "q_link_predict" -> ((s, dir) => {
      val canon = coEdgesFor(s, dir).filter(col("w") >= 8)
        .select("u", "v")
      val sym = canon.union(canon.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
      val adj = sym.join(deg, "u")
        .select(col("u").as("z"), col("v").as("n"), col("deg"))
      val wedges = adj.as("x").join(adj.as("y"),
          col("x.z") === col("y.z") && col("x.n") < col("y.n"))
        .select(col("x.n").as("n1"), col("y.n").as("n2"),
                col("x.deg").as("zdeg"))
      wedges.groupBy("n1", "n2")
        .agg(count(lit(1)).as("cn"),
             sum(expr("1000000 div zdeg")).as("ra_micro"))
        .filter(col("cn") >= 2)
        .join(canon.select(col("u").as("n1"), col("v").as("n2"),
                           lit(1L).as("is_edge")),
              Seq("n1", "n2"), "left")
        .withColumn("is_edge", coalesce(col("is_edge"), lit(0L)))
    }),

    // ---- market-basket association rules over order→brand baskets:
    //      ppm support/confidence/lift, decimal-exact ----
    "q_assoc_rules" -> ((s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part"),
              col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      graft.operators.MarketBasket.pairRules(
        items, "l_orderkey", "p_brand", minSupportPpm = 10000L)
    }),

    // ---- bounded-hop multi-source BFS over the thresholded supplier
    //      co-occurrence graph (same edge rule as q_triangles) ----
    "q_shortest_path" -> ((s, dir) => {
      val edges = coEdgesFor(s, dir).select("u", "v")
      val sources = Tables.load(s, dir, "supplier")
        .filter(col("s_suppkey") < 3).select(col("s_suppkey"))
      graft.operators.Bfs.boundedDistances(edges, sources, maxHops = 3)
    }),

    // ---- k-core extraction (3 peels at k=2) on the part
    //      co-occurrence graph — sparse at every scale, so the peel
    //      genuinely removes the degree-1 fringe each round ----
    "q_kcore" -> ((s, dir) => {
      val edges = graft.operators.CoOccurrence.edges(
        Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey", 2L)
      graft.operators.KCore.peel(edges, k = 2, rounds = 3)
    }),

    // ---- bounded Bellman-Ford: cheapest ≤3-hop path cost from the
    //      seed suppliers, edge cost = inverse co-occurrence affinity
    //      (weighted sibling of q_shortest_path) ----
    "q_weighted_path" -> ((s, dir) => {
      val we = coEdgesFor(s, dir)
        .select(col("u"), col("v"), expr("1000000 div w").as("cost"))
      val sources = Tables.load(s, dir, "supplier")
        .filter(col("s_suppkey") < 3).select(col("s_suppkey"))
      graft.operators.Bfs.boundedMinCost(we, sources, rounds = 3)
    }),

    // ---- community detection: deterministic synchronous label
    //      propagation (3 rounds, min-label ties) over the supplier
    //      co-occurrence graph — communities stop at local-majority
    //      boundaries where connected components merge everything
    //      reachable; oracle unrolls the same rounds ----
    "q_label_prop" -> ((s, dir) =>
      graft.operators.LabelPropagation.run(
        coEdgesFor(s, dir).select("u", "v"), "u", "v", rounds = 3)),

    // ---- deterministic random-walk corpus (DeepWalk's sampling
    //      stage, hash-drawn so it's regenerable): 2 walks × 3 hops
    //      from each low-key supplier over the co-occurrence graph;
    //      oracle unrolls the hops ----
    "q_random_walks" -> ((s, dir) => walksFor(s, dir)),

    // ---- skip-gram co-visit pairs from the walk corpus (DeepWalk's
    //      actual OUTPUT — the weighted pair table an embedding
    //      trainer consumes); window 2, canonical u ≤ v ----
    "q_walk_pairs" -> ((s, dir) =>
      graft.operators.RandomWalk.skipGramPairs(walksFor(s, dir),
        window = 2)),

    // ---- degree distribution of the supplier co-purchase graph:
    //      incident-edge counts per node, histogrammed in bands of 8.
    //      Edge derivation shares [[CoOccurrence.edges]] (hub-guarded,
    //      map-side pair explosion) with the other graph queries ----
    "q_degree_hist" -> ((s, dir) => {
      val edges = coEdgesFor(s, dir).select("u", "v")
      edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .groupBy(expr("d div 8").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min("d").as("min_deg"), max("d").as("max_deg"))
    }),
  )

  // WITH-clause shared by the two walk oracles: the co-occurrence
  // graph, seeds, and the three unrolled hash-drawn hops
  private val walkCte = """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      seeds AS (SELECT s_suppkey::BIGINT AS seed FROM supplier
                WHERE s_suppkey < 10),
      w0 AS (SELECT seed, wn.walk_no::BIGINT AS walk_no, seed AS node
             FROM seeds CROSS JOIN (SELECT unnest([0, 1]) AS walk_no) wn),
      c1 AS (SELECT w.seed, w.walk_no, s.v,
                    (((w.seed * 31 + w.walk_no) % 1000000007) * 1315423911
                       % 1000000007 + 1 * 2654435761 % 1000000007
                     + ((s.v % 1000000007) * 2246822519) % 1000000007)
                      % 1000000007 AS pri
             FROM w0 w JOIN sym s ON s.u = w.node),
      w1 AS (SELECT seed, walk_no, node FROM (
               SELECT seed, walk_no, v AS node, row_number() OVER (
                 PARTITION BY seed, walk_no ORDER BY pri, v) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT w.seed, w.walk_no, s.v,
                    (((w.seed * 31 + w.walk_no) % 1000000007) * 1315423911
                       % 1000000007 + 2 * 2654435761 % 1000000007
                     + ((s.v % 1000000007) * 2246822519) % 1000000007)
                      % 1000000007 AS pri
             FROM w1 w JOIN sym s ON s.u = w.node),
      w2 AS (SELECT seed, walk_no, node FROM (
               SELECT seed, walk_no, v AS node, row_number() OVER (
                 PARTITION BY seed, walk_no ORDER BY pri, v) AS rn
               FROM c2) WHERE rn = 1),
      c3 AS (SELECT w.seed, w.walk_no, s.v,
                    (((w.seed * 31 + w.walk_no) % 1000000007) * 1315423911
                       % 1000000007 + 3 * 2654435761 % 1000000007
                     + ((s.v % 1000000007) * 2246822519) % 1000000007)
                      % 1000000007 AS pri
             FROM w2 w JOIN sym s ON s.u = w.node),
      w3 AS (SELECT seed, walk_no, node FROM (
               SELECT seed, walk_no, v AS node, row_number() OVER (
                 PARTITION BY seed, walk_no ORDER BY pri, v) AS rn
               FROM c3) WHERE rn = 1)
"""

  val oracleSql: Seq[(String, String)] = Seq(
    // chaining ALL consecutive orderkeys inside a bucket makes the
    // whole bucket one path, so the component label is just the
    // bucket's min orderkey — no recursion needed oracle-side
    "q_cc_path" -> """
      SELECT o_orderkey AS node,
             min(o_orderkey) OVER (PARTITION BY o_orderkey // 4096)
               AS component
      FROM orders WHERE o_orderkey < 60000
    """,
    "q_pagerank" -> pageRankOracle(3),

    "q_triangles" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5)
      SELECT (SELECT count(*) FROM
                (SELECT u AS x FROM e UNION SELECT v FROM e)) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT count(*) FROM e e1
                JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,

    "q_cluster_coeff" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5),
      deg AS (SELECT node, count(*)::BIGINT AS deg FROM
                (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY 1),
      t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      tp AS (SELECT node, count(*)::BIGINT AS n_tri FROM
               (SELECT a AS node FROM t UNION ALL
                SELECT b FROM t UNION ALL SELECT c FROM t)
             GROUP BY 1)
      SELECT d.node, d.deg, coalesce(tp.n_tri, 0)::BIGINT AS n_tri,
             CASE WHEN d.deg < 2 THEN 0
                  ELSE coalesce(tp.n_tri, 0) * 2000000 // (d.deg * (d.deg - 1))
             END::BIGINT AS coeff_ppm
      FROM deg d LEFT JOIN tp ON tp.node = d.node
    """,

    "q_link_predict" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 8),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
      adj AS (SELECT s.u AS z, s.v AS n, d.deg FROM sym s JOIN deg d
              ON d.u = s.u),
      wedge AS (SELECT x.n AS n1, y.n AS n2, x.deg AS zdeg
                FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n),
      scored AS (SELECT n1, n2, count(*) AS cn,
                        sum(1000000 // zdeg)::BIGINT AS ra_micro
                 FROM wedge GROUP BY 1, 2)
      SELECT s.n1, s.n2, s.cn, s.ra_micro,
             (CASE WHEN e.u IS NULL THEN 0 ELSE 1 END)::BIGINT AS is_edge
      FROM scored s LEFT JOIN e ON e.u = s.n1 AND e.v = s.n2
      WHERE s.cn >= 2
    """,

    "q_assoc_rules" -> """
      WITH it AS (SELECT DISTINCT l_orderkey AS basket, p_brand AS item
                  FROM lineitem JOIN part ON l_partkey = p_partkey),
      tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM it),
      ic AS (SELECT item, count(*) AS item_cnt FROM it GROUP BY 1),
      p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_cnt
            FROM it a JOIN it b ON a.basket = b.basket AND a.item < b.item
            GROUP BY 1, 2)
      SELECT item_a, item_b, pair_cnt,
             ca.item_cnt AS cnt_a, cb.item_cnt AS cnt_b,
             ((pair_cnt::HUGEINT * 1000000) // ca.item_cnt)::BIGINT
               AS conf_ab_ppm,
             ((pair_cnt::HUGEINT * 1000000) // cb.item_cnt)::BIGINT
               AS conf_ba_ppm,
             ((pair_cnt::HUGEINT * n_baskets * 1000000) //
              (ca.item_cnt::HUGEINT * cb.item_cnt))::BIGINT AS lift_ppm
      FROM p JOIN ic ca ON ca.item = p.item_a
             JOIN ic cb ON cb.item = p.item_b
             CROSS JOIN tot
      WHERE pair_cnt * 1000000 >= 10000 * n_baskets
    """,

    // bounded BFS: the oracle unrolls 3 rounds of full min-distance
    // relaxation — equivalent to frontier BFS for hop-bounded
    // distances, but expressible as plain CTE stages
    "q_shortest_path" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5),
      sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      d0 AS (SELECT DISTINCT s_suppkey AS node, 0 AS dist FROM supplier
             WHERE s_suppkey < 3),
      r1 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d0
               UNION ALL
               SELECT sym.v, d0.dist + 1 FROM d0 JOIN sym ON sym.u = d0.node)
             GROUP BY node),
      r2 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM r1
               UNION ALL
               SELECT sym.v, r1.dist + 1 FROM r1 JOIN sym ON sym.u = r1.node)
             GROUP BY node),
      r3 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM r2
               UNION ALL
               SELECT sym.v, r2.dist + 1 FROM r2 JOIN sym ON sym.u = r2.node)
             GROUP BY node)
      SELECT node, dist FROM r3
    """,

    // 3 unrolled peels: degree → survivors → edge restriction
    "q_kcore" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 2),
      s0 AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      k1 AS (SELECT u FROM s0 GROUP BY u HAVING count(*) >= 2),
      s1 AS (SELECT u, v FROM s0 WHERE u IN (SELECT u FROM k1)
                                   AND v IN (SELECT u FROM k1)),
      k2 AS (SELECT u FROM s1 GROUP BY u HAVING count(*) >= 2),
      s2 AS (SELECT u, v FROM s1 WHERE u IN (SELECT u FROM k2)
                                   AND v IN (SELECT u FROM k2)),
      k3 AS (SELECT u FROM s2 GROUP BY u HAVING count(*) >= 2),
      s3 AS (SELECT u, v FROM s2 WHERE u IN (SELECT u FROM k3)
                                   AND v IN (SELECT u FROM k3))
      SELECT u AS node, count(*) AS deg FROM s3 GROUP BY u
    """,

    "q_weighted_path" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v, (1000000 // w)::BIGINT AS cost FROM e0 WHERE w >= 5),
      sym AS (SELECT u, v, min(cost) AS cost FROM
                (SELECT u, v, cost FROM e
                 UNION ALL SELECT v, u, cost FROM e) GROUP BY 1, 2),
      d0 AS (SELECT DISTINCT s_suppkey AS node, 0::BIGINT AS cost
             FROM supplier WHERE s_suppkey < 3),
      r1 AS (SELECT node, min(cost) AS cost FROM (
               SELECT node, cost FROM d0
               UNION ALL
               SELECT sym.v, d0.cost + sym.cost FROM d0
               JOIN sym ON sym.u = d0.node) GROUP BY 1),
      r2 AS (SELECT node, min(cost) AS cost FROM (
               SELECT node, cost FROM r1
               UNION ALL
               SELECT sym.v, r1.cost + sym.cost FROM r1
               JOIN sym ON sym.u = r1.node) GROUP BY 1),
      r3 AS (SELECT node, min(cost) AS cost FROM (
               SELECT node, cost FROM r2
               UNION ALL
               SELECT sym.v, r2.cost + sym.cost FROM r2
               JOIN sym ON sym.u = r2.node) GROUP BY 1)
      SELECT node, cost::BIGINT AS cost FROM r3
    """,

    // three hash-drawn hops unrolled; row_number (pri ASC, v ASC)
    // reproduces the Spark side's min(struct(pri, v)) argmin exactly
    "q_random_walks" -> (walkCte + """      SELECT seed, walk_no, 0::BIGINT AS step, node FROM w0
      UNION ALL SELECT seed, walk_no, 1::BIGINT, node FROM w1
      UNION ALL SELECT seed, walk_no, 2::BIGINT, node FROM w2
      UNION ALL SELECT seed, walk_no, 3::BIGINT, node FROM w3
    """),

    // the walk CTE again + the window-2 skip-gram pair join, exactly
    // as RandomWalk.skipGramPairs canonicalizes (u <= v, corpus count)
    "q_walk_pairs" -> (walkCte + """
      , corpus AS (
        SELECT seed, walk_no, 0::BIGINT AS step, node FROM w0
        UNION ALL SELECT seed, walk_no, 1::BIGINT, node FROM w1
        UNION ALL SELECT seed, walk_no, 2::BIGINT, node FROM w2
        UNION ALL SELECT seed, walk_no, 3::BIGINT, node FROM w3)
      SELECT least(a.node, b.node) AS u, greatest(a.node, b.node) AS v,
             count(*)::BIGINT AS n_covisits
      FROM corpus a JOIN corpus b
        ON a.seed = b.seed AND a.walk_no = b.walk_no
       AND b.step > a.step AND b.step <= a.step + 2
      GROUP BY 1, 2
    """),

    // three synchronous LPA rounds unrolled; row_number (cnt DESC,
    // label ASC) reproduces the Spark side's max(struct(cnt, -label))
    // argmax-with-min-tie-break exactly
    "q_label_prop" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
      c1 AS (SELECT s.v AS node, l.label AS label, count(*) AS cnt
             FROM sym s JOIN l0 l ON s.u = l.node GROUP BY 1, 2),
      l1 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, label) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT s.v AS node, l.label AS label, count(*) AS cnt
             FROM sym s JOIN l1 l ON s.u = l.node GROUP BY 1, 2),
      l2 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, label) AS rn
               FROM c2) WHERE rn = 1),
      c3 AS (SELECT s.v AS node, l.label AS label, count(*) AS cnt
             FROM sym s JOIN l2 l ON s.u = l.node GROUP BY 1, 2),
      l3 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, label) AS rn
               FROM c3) WHERE rn = 1)
      SELECT node, label FROM l3
    """,

    "q_degree_hist" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      e AS (SELECT u, v FROM e0 WHERE w >= 5),
      deg AS (SELECT node, count(*)::BIGINT AS d
              FROM (SELECT u AS node FROM e
                    UNION ALL SELECT v FROM e)
              GROUP BY 1)
      SELECT d // 8 AS bucket, count(*) AS n_nodes,
             min(d) AS min_deg, max(d) AS max_deg
      FROM deg GROUP BY 1
    """,
  )
}
