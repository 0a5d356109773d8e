package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.retention.{EventsAdapter, Retention, StarAdapter}
import QueryHelpers._

/** Corpus query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object CorpusQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- corpus assembly: leak-free splits, mixing, packing, PII ----
    // train/val/test that never separates near-duplicates: split is a
    // function of the dedup COMPONENT, so a test doc's near-copy can't
    // sit in train (the leakage the naive per-doc split causes)
    "q_split_leakfree" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // shared component labeling (see dedupComponentsFor) — the
      // split is a function of the stored dedup component
      graft.functions.Corpus.leakFreeSplitFromComponents(
        docs.select("doc_id", "lang"), "doc_id",
        dedupComponentsFor(s, dir))
    }),
    // domain-mixture sampling: deterministic per-language keep rates
    "q_stratified_sample" -> ((s, dir) =>
      graft.functions.Corpus.stratifiedSample(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang",
        Map("en" -> 750000, "de" -> 500000, "fr" -> 250000, "es" -> 125000),
        defaultPpm = 100000)),
    // concat-and-chunk packing into 2048-token bins, sharded by source
    "q_pack_sequences" -> ((s, dir) =>
      graft.functions.Corpus.packSequences(
          Tables.load(s, dir, "documents"), "source", "doc_id",
          graft.functions.TextAnalysis.tokenCount(col("text")), 2048)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))),
    // largest-feasible-corpus mixture allocation (integer-exact)
    "q_mixture_alloc" -> ((s, dir) =>
      graft.functions.Corpus.mixtureAllocation(
        Tables.load(s, dir, "documents"), "lang",
        Map("en" -> 400000L, "de" -> 300000L, "fr" -> 200000L,
            "es" -> 100000L))),
    // ...and the sampled corpus that allocation induces
    "q_mixture_sample" -> ((s, dir) =>
      graft.functions.Corpus.mixtureSample(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang",
        Map("en" -> 400000L, "de" -> 300000L, "fr" -> 200000L,
            "es" -> 100000L))),
    // deterministic global shuffle into 8 export shards
    "q_shard_shuffle" -> ((s, dir) =>
      graft.functions.Corpus.shardAssign(
          Tables.load(s, dir, "documents").select("doc_id"),
          "doc_id", 8, "v1")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
             min("sort_key").as("min_key"), max("sort_key").as("max_key"),
             min_by(col("doc_id"), col("sort_key")).as("first_doc"))),

    // ---- full curation pipeline (quality → lang → exact dedup →
    //      near-dup components), one composed query ----
    "q_curation" -> ((s, dir) =>
      graft.functions.Curation.curate(
        Tables.load(s, dir, "documents"), "doc_id", "text", "en", 5,
        candidatePairs = Some(lshPairsFor(s, dir)))),

    // ---- weight-proportional systematic sampling per stratum: take
    //      the doc that crosses each 500-token stride of the per-lang
    //      cumulative token count — deterministic, one window pass ----
    //      Distributed grouped running sum: a handful of languages
    //      over the corpus would funnel everything into as many
    //      window tasks — GlobalOrder's grouped form keeps the
    //      cumulative walk P-way parallel ----
    "q_systematic_sample" -> ((s, dir) =>
      // auto-gated (round-14): the input is a scan projection, so the
      // gate is one pruned count; below the threshold the plain grouped
      // window walks the cumulative weight in one tiny sort
      graft.operators.GlobalOrder.withRunningSumsAuto(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              graft.functions.TextAnalysis.tokenCount(col("text"))
                .cast("long").as("wt")),
          Seq(col("doc_id")), Seq(col("wt") -> "cum"), groupCols = Seq("lang"))
        .filter(expr("cum div 500") > expr("(cum - wt) div 500"))),

    // ---- training-mix construction end-to-end: apportion a 200-doc
    //      budget across sources by char mass, then keep each source's
    //      `quota` longest documents — Allocation + ranking composed ----
    "q_budget_select" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val quotas = graft.operators.Allocation.largestRemainder(
        docs.select(col("source"), col("n_chars")),
        "source", "n_chars", budget = 200L)
        .select(col("k").as("source"), col("quota"))
      // auto-gated grouped numbering: per-source ranking over the
      // corpus must not funnel into |sources| window tasks at scale,
      // but below the threshold the plain grouped window is cheaper
      // (an explicit metadata-count bound was measured SLOWER here —
      // the extra count job dominates a sub-second single-consumer
      // query; the gate pin is the right shape)
      graft.operators.GlobalOrder.withRowNumberAuto(
          docs.join(broadcast(quotas), "source"),
          Seq(col("n_chars").desc, col("doc_id")), "rn",
          groupCols = Seq("source"))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"))
    }),

    // ---- deterministic round-robin interleave across sources (the
    //      training-order shuffle that balances sources without a
    //      global sort): consumers order by (round, src_idx) ----
    "q_interleave" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val srcIdx = docs.select("source").distinct()
        .withColumn("src_idx",
          row_number().over(Window.orderBy("source")).cast("long"))
      // auto-gated grouped numbering (see q_budget_select)
      graft.operators.GlobalOrder.withRowNumberAuto(
          docs.join(broadcast(srcIdx), "source"), Seq(col("doc_id")), "round",
          groupCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("round"), col("src_idx"))
    }),

    // ---- greedy max-coverage subset selection (diverse
    //      representative picking for a curation budget): k rounds,
    //      each picks the doc adding the most UNCOVERED trigrams
    //      (ties → smallest doc_id). The k argmaxes are the only
    //      driver actions (one row each). The corpus gram relation is
    //      pinned ONCE; each round anti-joins the (tiny, ≤ Σ picked
    //      docs' grams) covered-gram set broadcast against it —
    //      re-checkpointing the full residual relation per round
    //      rewrote the corpus k times and was the query's entire sf1
    //      cost ----
    "q_max_coverage" -> ((s, dir) => {
      import s.implicits._
      val g0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextAnalysis.shingles(col("text"), 3))).as("g"))
        .distinct()
        .transform(graft.operators.CheckpointScope.pin(_))
      var covered: Option[org.apache.spark.sql.DataFrame] = None
      var pickedIds: Seq[Long] = Nil
      val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
      for (round <- 1 to 3) {
        val uncovered = covered.fold(g0)(c =>
          g0.join(broadcast(c), Seq("g"), "left_anti"))
        val cand =
          if (pickedIds.isEmpty) uncovered
          else uncovered.filter(!col("doc_id").isin(pickedIds: _*))
        val top = cand.groupBy("doc_id").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("doc_id")).limit(1).head()
        val docId = top.getLong(0)
        picks += ((round, docId, top.getLong(1)))
        pickedIds :+= docId
        val newGrams = g0.filter(col("doc_id") === docId).select("g")
        covered = Some(covered.fold(newGrams)(_ unionByName newGrams))
      }
      picks.toSeq.toDF("pick_order", "doc_id", "new_grams")
    }),

    // ---- leave-one-out target encoding: category → mean target with
    //      the row's own value excluded ((Σ − x) div (n−1) in milli
    //      units) — the leakage-safe categorical encoder ----
    "q_target_encode" -> ((s, dir) => {
      // unordered per-group totals as a groupBy + broadcast join, NOT
      // a partitionBy window: 5 priority values over the fact table
      // would funnel the whole relation into 5 window tasks, while
      // the aggregate map-side-combines and the join stays map-side
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val totals = base.groupBy("o_orderpriority")
        .agg(sum("cents").as("sum_c"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
      base.join(broadcast(totals), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("(sum_c - cents) * 1000 div (n - 1)").as("loo_milli"))
    }),

    // ---- PPS systematic sampling: draw ~k customers with probability
    //      proportional to revenue, deterministically — a fixed stride
    //      walks the cumulative-weight line from offset stride/2; a
    //      unit is drawn once per grid point inside its interval (a
    //      weight > stride can be drawn multiple times, the textbook
    //      PPS behavior). Integer cents throughout; the cumulative
    //      window runs over the customer DIMENSION (per-key revenue
    //      pre-aggregated), not the fact table ----
    "q_pps_sample" -> ((s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
      val tot = per.agg(sum("rev").as("total_rev"))
      // auto-gated (round-14): the gate persist of `per` is also the
      // cache the total-revenue aggregate hits
      graft.operators.GlobalOrder.withRunningSumsAuto(
          per, Seq(col("o_custkey")), Seq(col("rev") -> "cum"))
        .crossJoin(broadcast(tot))
        .withColumn("stride", expr("total_rev div 500"))
        .filter(col("stride") > 0)
        .withColumn("off", expr("stride div 2"))
        .withColumn("n_hits",
          expr("""(CASE WHEN cum >= off
                        THEN (cum - off) div stride + 1 ELSE 0 END) -
                  (CASE WHEN cum - rev >= off
                        THEN (cum - rev - off) div stride + 1 ELSE 0 END)"""))
        .filter(col("n_hits") > 0)
        .select(col("o_custkey"), col("rev"), col("cum"), col("n_hits"))
    }),

    // ---- deterministic negative sampling for contrastive training
    //      pairs: each query doc draws k=5 pseudo-random corpus indexes
    //      via an affine hash (Knuth multiplier) mod N — reproducible
    //      across engines and runs, no RNG state. Index→doc resolution
    //      is an equi-join on the dense rank, and the same-source flag
    //      marks negatives too easy to train on ----
    "q_neg_sample" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // auto-gated (round-14): scan-projection input — the gate is one
      // pruned count, and below the threshold each of idx's consumers
      // re-reads a tiny plain window instead of re-paying the
      // distributed numbering's shuffle
      val idx = graft.operators.GlobalOrder.withRowNumberAuto(
          docs.select(col("doc_id"), col("source")),
          Seq(col("doc_id")), "__rn")
        .withColumn("i", col("__rn") - lit(1L)).drop("__rn")
      val n = idx.agg(count(lit(1)).as("n_docs"))
      val q = idx.filter(col("i") < 20)
        .select(col("doc_id").as("q_id"), col("i").as("qi"),
          col("source").as("q_source"))
      q.crossJoin(broadcast(n))
        .select(col("q_id"), col("q_source"), col("n_docs"),
          explode(expr("sequence(1L, 5L)")).as("j"))
        .withColumn("neg_i",
          expr("(q_id * 2654435761 + j * 40503) % n_docs"))
        .join(idx.select(col("i").as("neg_i"), col("doc_id").as("neg_id"),
          col("source").as("neg_source")), Seq("neg_i"))
        .filter(col("neg_id") =!= col("q_id"))
        .select(col("q_id"), col("j"), col("neg_id"),
          when(col("q_source") === col("neg_source"), 1L).otherwise(0L)
            .as("same_source"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_split_leakfree" -> s"""
      WITH RECURSIVE $minhashLshCtes,
      sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
              UNION SELECT doc_b, doc_a FROM lsh_pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
      ),
      comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
      SELECT d.doc_id, d.lang, c.component,
             CASE WHEN c.component % 100 < 80 THEN 'train'
                  WHEN c.component % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN comp c USING (doc_id)
    """,
    "q_stratified_sample" -> """
      SELECT doc_id, lang FROM documents
      WHERE (doc_id * 2654435761) % 1000000 <
            CASE lang WHEN 'en' THEN 750000 WHEN 'de' THEN 500000
                      WHEN 'fr' THEN 250000 WHEN 'es' THEN 125000
                      ELSE 100000 END
    """,
    "q_pack_sequences" -> """
      WITH t AS (
        SELECT source, doc_id,
               (CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+'))
                END)::BIGINT AS tok
        FROM documents),
      c AS (SELECT source, tok,
                   coalesce(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)::BIGINT AS cum
            FROM t)
      SELECT source, cum // 2048 AS bin, count(*) AS n_docs,
             (sum(tok))::BIGINT AS n_tokens
      FROM c GROUP BY 1, 2
    """,
    "q_mixture_alloc" -> """
      WITH c AS (SELECT lang AS stratum, count(*) AS n_obs
                 FROM documents GROUP BY 1),
      f AS (SELECT * FROM (
              SELECT stratum, n_obs,
                     CASE stratum WHEN 'en' THEN 400000 WHEN 'de' THEN 300000
                                  WHEN 'fr' THEN 200000 WHEN 'es' THEN 100000
                                  ELSE 0 END AS w_ppm
              FROM c) WHERE w_ppm > 0),
      t AS (SELECT min(n_obs * 1000000 // w_ppm) AS t_max FROM f)
      SELECT stratum, n_obs::BIGINT AS n_obs, w_ppm::BIGINT AS w_ppm,
             (t.t_max * w_ppm // 1000000)::BIGINT AS target_n,
             ((t.t_max * w_ppm // 1000000) * 1000000 // n_obs)::BIGINT AS rate_ppm
      FROM f, t
    """,
    "q_mixture_sample" -> """
      WITH c AS (SELECT lang AS stratum, count(*) AS n_obs
                 FROM documents GROUP BY 1),
      f AS (SELECT * FROM (
              SELECT stratum, n_obs,
                     CASE stratum WHEN 'en' THEN 400000 WHEN 'de' THEN 300000
                                  WHEN 'fr' THEN 200000 WHEN 'es' THEN 100000
                                  ELSE 0 END AS w_ppm
              FROM c) WHERE w_ppm > 0),
      t AS (SELECT min(n_obs * 1000000 // w_ppm) AS t_max FROM f),
      r AS (SELECT stratum,
                   ((t.t_max * w_ppm // 1000000) * 1000000 // n_obs) AS rate_ppm
            FROM f, t)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN r ON d.lang = r.stratum
      WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_ppm
    """,
    "q_shard_shuffle" -> """
      WITH a AS (SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':v1'), 1, 15))::BIGINT
                     AS sort_key
                 FROM documents),
      s AS (SELECT doc_id, sort_key, (sort_key % 8)::INTEGER AS shard FROM a)
      SELECT shard, count(*)::BIGINT AS n_docs, min(sort_key) AS min_key,
             max(sort_key) AS max_key, min_by(doc_id, sort_key) AS first_doc
      FROM s GROUP BY shard
    """,
    "q_curation" -> s"""
      WITH RECURSIVE gated AS (
        SELECT doc_id, text, n_tokens FROM (
          SELECT doc_id, text, n_tokens,
                 greatest(s_en, s_de, s_fr, s_es) AS m,
                 s_en, s_de, s_fr, s_es
          FROM (SELECT doc_id, text,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END)::BIGINT AS n_tokens,
                  ${langHitSql("en")} AS s_en, ${langHitSql("de")} AS s_de,
                  ${langHitSql("fr")} AS s_fr, ${langHitSql("es")} AS s_es
                FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)))
        WHERE n_tokens >= 5
          AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2
              >= length(text)
          AND m > 0 AND s_en = m
      ),
      exact AS (
        SELECT doc_id, text, n_tokens FROM (
          SELECT *, min(doc_id) OVER (PARTITION BY
            md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
            AS keep
          FROM gated)
        WHERE doc_id = keep
      ),
      ${minhashLshCtesFor("exact")},
      sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
              UNION SELECT doc_b, doc_a FROM lsh_pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM exact
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
      ),
      comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
      SELECT e.doc_id, e.n_tokens
      FROM exact e JOIN comp c ON e.doc_id = c.doc_id
      WHERE c.component = e.doc_id
    """,

    "q_systematic_sample" -> """
      WITH d AS (
        SELECT doc_id, lang,
               (CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+'))
                END)::BIGINT AS wt
        FROM documents),
      c AS (SELECT *, sum(wt) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
      SELECT doc_id, lang, wt, cum::BIGINT AS cum FROM c
      WHERE cum // 500 > (cum - wt) // 500
    """,

    "q_budget_select" -> """
      WITH w AS (SELECT source AS k, sum(n_chars)::HUGEINT AS wt
                 FROM documents GROUP BY 1),
      t AS (SELECT sum(wt) AS tot FROM w),
      b AS (SELECT k, wt, (wt * 200) // tot AS base_quota,
                   (wt * 200) % tot AS rem FROM w, t),
      u AS (SELECT sum(base_quota) AS used FROM b),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, k) AS rk FROM b),
      q AS (SELECT k AS source,
                   base_quota + CASE WHEN rk <= 200 - used THEN 1 ELSE 0 END
                     AS quota
            FROM r, u),
      ranked AS (SELECT doc_id, source,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY n_chars DESC, doc_id)
                          AS rn
                 FROM documents)
      SELECT doc_id, ranked.source FROM ranked JOIN q USING (source)
      WHERE rn <= quota
    """,

    "q_interleave" -> """
      WITH s AS (SELECT source,
                        row_number() OVER (ORDER BY source) AS src_idx
                 FROM (SELECT DISTINCT source FROM documents))
      SELECT doc_id, d.source,
             row_number() OVER (PARTITION BY d.source ORDER BY doc_id)
               AS round,
             src_idx
      FROM documents d JOIN s USING (source)
    """,

    // 3 unrolled greedy rounds; same trigram derivation as
    // q_containment's oracle
    "q_max_coverage" -> s"""
      WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
      g AS (SELECT DISTINCT doc_id, g FROM (
              SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
                AS g
              FROM d WHERE len(t) >= 3)),
      p1 AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1
             ORDER BY n DESC, doc_id LIMIT 1),
      r1 AS (SELECT * FROM g
             WHERE doc_id != (SELECT doc_id FROM p1)
               AND g NOT IN (SELECT g.g FROM g JOIN p1 USING (doc_id))),
      p2 AS (SELECT doc_id, count(*) AS n FROM r1 GROUP BY 1
             ORDER BY n DESC, doc_id LIMIT 1),
      r2 AS (SELECT * FROM r1
             WHERE doc_id != (SELECT doc_id FROM p2)
               AND g NOT IN (SELECT r1.g FROM r1 JOIN p2 USING (doc_id))),
      p3 AS (SELECT doc_id, count(*) AS n FROM r2 GROUP BY 1
             ORDER BY n DESC, doc_id LIMIT 1)
      SELECT 1::BIGINT AS pick_order, doc_id, n::BIGINT AS new_grams FROM p1
      UNION ALL
      SELECT 2::BIGINT, doc_id, n::BIGINT FROM p2
      UNION ALL
      SELECT 3::BIGINT, doc_id, n::BIGINT FROM p3
    """,

    "q_target_encode" -> """
      WITH d AS (SELECT o_orderkey, o_orderpriority,
                        floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
                 FROM orders),
      s AS (SELECT *, sum(cents) OVER (PARTITION BY o_orderpriority) AS sum_c,
                   count(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM d)
      SELECT o_orderkey, o_orderpriority,
             ((sum_c - cents) * 1000 // (n - 1))::BIGINT AS loo_milli
      FROM s WHERE n > 1
    """,

    "q_pps_sample" -> """
      WITH per AS (SELECT o_custkey,
                          sum(floor(o_totalprice * 100 + 0.5)::BIGINT)
                            ::BIGINT AS rev
                   FROM orders GROUP BY 1),
      c AS (SELECT *,
                   sum(rev) OVER (ORDER BY o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(rev) OVER () AS total_rev
            FROM per),
      g AS (SELECT *, total_rev // 500 AS stride,
                   (total_rev // 500) // 2 AS off
            FROM c WHERE total_rev // 500 > 0)
      SELECT * FROM (
        SELECT o_custkey, rev, cum::BIGINT AS cum,
               ((CASE WHEN cum >= off
                      THEN (cum - off) // stride + 1 ELSE 0 END) -
                (CASE WHEN cum - rev >= off
                      THEN (cum - rev - off) // stride + 1 ELSE 0 END)
               )::BIGINT AS n_hits
        FROM g)
      WHERE n_hits > 0
    """,

    "q_neg_sample" -> """
      WITH idx AS (SELECT doc_id, source,
                          (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT
                            AS i
                   FROM documents),
      n AS (SELECT count(*)::BIGINT AS n_docs FROM idx),
      q AS (SELECT doc_id AS q_id, source AS q_source
            FROM idx WHERE i < 20),
      drawn AS (SELECT q_id, q_source, j::BIGINT AS j,
                       (q_id * 2654435761 + j * 40503) % n_docs AS neg_i
                FROM q CROSS JOIN n
                CROSS JOIN (SELECT unnest(range(1, 6)) AS j))
      SELECT q_id, j, x.doc_id AS neg_id,
             (CASE WHEN q_source = x.source THEN 1 ELSE 0 END)::BIGINT
               AS same_source
      FROM drawn JOIN idx x ON drawn.neg_i = x.i
      WHERE x.doc_id <> q_id
    """,
  )
}
