package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Retrieval query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object RetrievalQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // eval-set decontamination: benchmark = 6-token prefixes of every
    // 50th doc; flag any doc sharing a 3-gram with that eval set
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(array_join(slice(split(
          graft.functions.TextAnalysis.normalized(col("text")), " "), 1, 6),
          " ").as("snippet"))
      graft.functions.Decontam.report(docs, "doc_id", "text",
        bench, "snippet", 3)
    }),

    // ---- inverted index build + conjunctive search ----
    // maxDfPct, not an absolute cap: 80% of the corpus — at sf0.01
    // that is exactly the old maxDf=400, but it stays meaningful at
    // any scale (the sf1 sweep showed an absolute 400 empties the
    // index once every term's df outgrows it)
    "q_inverted_index" -> ((s, dir) =>
      graft.functions.InvertedIndex.index(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        minDf = 1L, maxDfPct = 80)),
    "q_index_search" -> ((s, dir) =>
      graft.functions.InvertedIndex.searchAll(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "stream"))
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    "q_phrase_search" -> ((s, dir) =>
      graft.functions.InvertedIndex.phraseSearch(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window"))
        .select(col("doc_id"), col("lang"))),
    "q_ranked_search" -> ((s, dir) =>
      graft.functions.InvertedIndex.rankedSearchFrom(
        postingsFor(s, dir), "doc_id",
        Seq("spark", "window", "stream"), 10)),
    // BM25 (k1=1.2, b=0.75) with the integer-exact saturation/length
    // normalization derivation — see InvertedIndex.bm25Search
    "q_bm25_search" -> ((s, dir) =>
      graft.functions.InvertedIndex.bm25SearchFrom(
        postingsFor(s, dir), "doc_id",
        Seq("spark", "window", "stream"), 10)),
    // WAND-style max-score pruned BM25 — the posting-volume scale path;
    // MUST return the identical top-k (the oracle is the same exhaustive
    // scorer, so the cross-engine gate itself proves prune soundness)
    "q_bm25_wand" -> ((s, dir) =>
      graft.functions.InvertedIndex.bm25SearchPrunedFrom(
        postingsFor(s, dir), "doc_id",
        Seq("spark", "window", "stream"), 10)),
    // block-max bucketed index search (ImpactIndex): builds the
    // persisted (term_bucket, doc_bucket) impact layout once per
    // session, then answers from query-term buckets only with whole
    // doc blocks pruned under θ — identical top-k to the exhaustive
    // oracle; the layout that makes max-score pruning actually win
    // (zero-scan contract pinned in ImpactIndexSpec)
    "q_bm25_bucketed" -> ((s, dir) =>
      graft.sources.ImpactIndex.search(s, impactIndexFor(s, dir),
        "doc_id", Seq("spark", "window", "stream"), 10)),
    // tiered search: nightly index over the main split + intraday
    // delta segment scored at query time against the PINNED build
    // epoch (avgdl/N/df of the main corpus; delta docs shadow same-id
    // main docs) — the Lucene-segment shape; oracle re-derives the
    // same pinned-epoch scores over (main ∖ shadowed) ∪ delta
    "q_bm25_delta" -> ((s, dir) => {
      val (_, delta) = deltaDocsFor(s, dir)
      graft.sources.ImpactIndex.searchWithDelta(s,
        impactIndexMainFor(s, dir), "doc_id", delta, "text",
        Seq("spark", "window", "stream"), 10)
    }),
    // hybrid-retrieval rank fusion: RRF over the rarity and BM25 runs
    "q_rrf_fusion" -> ((s, dir) =>
      graft.functions.InvertedIndex.rrfFusionFrom(
        postingsFor(s, dir), "doc_id",
        Seq("spark", "window", "stream"), 20, 10)),
    // Kendall tau-a agreement between the two retrieval runs
    "q_rank_tau" -> ((s, dir) =>
      graft.functions.InvertedIndex.rankAgreementFrom(
        postingsFor(s, dir), "doc_id",
        Seq("spark", "window", "stream"), 20)),

    // ---- cross-source contamination matrix: NEAR-duplicate pair
    //      counts for every source pair (how much of source A leaked
    //      into source B — the corpus-level complement of
    //      q_decontaminate's train/test check). Pairs come from the
    //      same MinHash-LSH candidate generator as q_dedup_minhash_lsh
    //      (band-bucket equi-join, never document × document); the
    //      source lookup is two equi-joins on doc_id and the matrix
    //      itself is a tiny groupBy ----
    "q_contamination_matrix" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      lshPairsFor(s, dir)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
                greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("dup_pairs"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_decontaminate" -> s"""
      WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
      b AS (SELECT array_to_string(t[1:6], ' ') AS snippet
            FROM d WHERE doc_id % 50 = 0),
      bt AS (SELECT string_split(snippet, ' ') AS t FROM b),
      bg AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
             FROM (SELECT unnest(list_distinct(list_transform(
                     range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
                   FROM bt WHERE len(t) >= 3)),
      dg AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
             FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
                   FROM d WHERE len(t) >= 3)),
      hits AS (SELECT doc_id, count(*) AS n_hit
               FROM dg JOIN bg USING (gh) GROUP BY doc_id)
      SELECT doc.doc_id,
             (coalesce(h.n_hit, 0))::BIGINT AS n_hit_grams,
             coalesce(h.n_hit, 0) > 0 AS contaminated
      FROM documents doc LEFT JOIN hits h USING (doc_id)
    """,
    "q_inverted_index" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*) AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2)
      SELECT term, df, tf_total, posting_list FROM (
        SELECT term, count(*) AS df, sum(tf)::BIGINT AS tf_total,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                 AS posting_list
        FROM p GROUP BY 1)
      WHERE df >= 1
        AND df * 100 <= 80 * (SELECT count(*) FROM documents)
    """,
    "q_index_search" -> s"""
      SELECT doc_id, lang, n_chars FROM documents
      WHERE list_contains($duckToks, 'spark')
        AND list_contains($duckToks, 'window')
        AND list_contains($duckToks, 'stream')
    """,
    "q_phrase_search" -> """
      SELECT doc_id, lang FROM documents
      WHERE ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
            || ' ' LIKE '% spark window %'
    """,
    "q_ranked_search" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*) AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      h AS (SELECT doc_id, tf,
                   count(*) OVER (PARTITION BY term) AS df
            FROM p WHERE term IN ('spark', 'window', 'stream'))
      SELECT doc_id, sum((tf * 1000000) // df)::BIGINT AS score_micro,
             count(*) AS n_terms
      FROM h GROUP BY 1
      ORDER BY score_micro DESC, doc_id LIMIT 10
    """,

    "q_bm25_search" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      len AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM p GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM len),
      h AS (SELECT p.doc_id, p.tf,
                   count(*) OVER (PARTITION BY p.term)::BIGINT AS df,
                   len.dl, st.tot, st.nd
            FROM p JOIN len USING (doc_id) CROSS JOIN st
            WHERE p.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df, dl,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM h),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc)
      SELECT doc_id, sum(term_score)::BIGINT AS score_micro,
             count(*) AS n_terms
      FROM ts GROUP BY 1
      ORDER BY score_micro DESC, doc_id LIMIT 10
    """,

    // identical exhaustive oracle as q_bm25_search: the pruned plan
    // must reproduce the full scorer's top-k bit-for-bit
    "q_bm25_wand" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      len AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM p GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM len),
      h AS (SELECT p.doc_id, p.tf,
                   count(*) OVER (PARTITION BY p.term)::BIGINT AS df,
                   len.dl, st.tot, st.nd
            FROM p JOIN len USING (doc_id) CROSS JOIN st
            WHERE p.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df, dl,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM h),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc)
      SELECT doc_id, sum(term_score)::BIGINT AS score_micro,
             count(*) AS n_terms
      FROM ts GROUP BY 1
      ORDER BY score_micro DESC, doc_id LIMIT 10
    """,

    // identical exhaustive oracle again: the bucketed block-max search
    // must reproduce the full scorer's top-k bit-for-bit
    "q_bm25_bucketed" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      len AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM p GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM len),
      h AS (SELECT p.doc_id, p.tf,
                   count(*) OVER (PARTITION BY p.term)::BIGINT AS df,
                   len.dl, st.tot, st.nd
            FROM p JOIN len USING (doc_id) CROSS JOIN st
            WHERE p.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df, dl,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM h),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc)
      SELECT doc_id, sum(term_score)::BIGINT AS score_micro,
             count(*) AS n_terms
      FROM ts GROUP BY 1
      ORDER BY score_micro DESC, doc_id LIMIT 10
    """,

    // pinned-epoch tiered oracle: stats (avgdl, N) and df come from the
    // MAIN split only; delta docs shadow same-id main docs; terms the
    // main build never saw fall back to delta-local df
    "q_bm25_delta" -> s"""
      WITH main AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 10 <> 0),
      delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                UNION ALL
                SELECT doc_id, text || ' deltamarker' FROM documents
                WHERE doc_id % 100 = 1),
      pm AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
               SELECT doc_id, unnest($duckToks) AS term FROM main)
             WHERE term <> '' GROUP BY 1, 2),
      dlm AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM pm GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM dlm),
      dfm AS (SELECT term, count(*)::BIGINT AS main_df FROM pm GROUP BY 1),
      pd AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
               SELECT doc_id, unnest($duckToks) AS term FROM delta)
             WHERE term <> '' GROUP BY 1, 2),
      dld AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM pd GROUP BY 1),
      dfd AS (SELECT term, count(*)::BIGINT AS delta_df FROM pd GROUP BY 1),
      mains AS (SELECT pm.doc_id, pm.term, pm.tf, dfm.main_df AS df,
                       dlm.dl
                FROM pm JOIN dlm USING (doc_id) JOIN dfm USING (term)
                WHERE pm.doc_id NOT IN (SELECT doc_id FROM delta)),
      deltas AS (SELECT pd.doc_id, pd.term, pd.tf,
                        coalesce(dfm.main_df, dfd.delta_df) AS df, dld.dl
                 FROM pd JOIN dld USING (doc_id) JOIN dfd USING (term)
                 LEFT JOIN dfm USING (term)),
      u AS (SELECT * FROM mains UNION ALL SELECT * FROM deltas),
      h AS (SELECT u.doc_id, u.tf, u.df, u.dl, st.tot, st.nd
            FROM u CROSS JOIN st
            WHERE u.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM h),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc)
      SELECT doc_id, sum(term_score)::BIGINT AS score_micro,
             count(*) AS n_terms
      FROM ts GROUP BY 1
      ORDER BY score_micro DESC, doc_id LIMIT 10
    """,

    "q_rrf_fusion" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      ha AS (SELECT doc_id, tf,
                    count(*) OVER (PARTITION BY term)::BIGINT AS df
             FROM p WHERE term IN ('spark', 'window', 'stream')),
      runa AS (SELECT doc_id,
                      sum((tf * 1000000) // df)::BIGINT AS score
               FROM ha GROUP BY 1
               ORDER BY score DESC, doc_id LIMIT 20),
      ra AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id)::BIGINT AS rank_a
             FROM runa),
      len AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM p GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM len),
      hb AS (SELECT p.doc_id, p.tf,
                    count(*) OVER (PARTITION BY p.term)::BIGINT AS df,
                    len.dl, st.tot, st.nd
             FROM p JOIN len USING (doc_id) CROSS JOIN st
             WHERE p.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM hb),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc),
      runb AS (SELECT doc_id, sum(term_score)::BIGINT AS score
               FROM ts GROUP BY 1
               ORDER BY score DESC, doc_id LIMIT 20),
      rb AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id)::BIGINT AS rank_b
             FROM runb),
      f AS (SELECT doc_id,
                   (coalesce(1000000 // (60 + rank_a), 0)
                    + coalesce(1000000 // (60 + rank_b), 0))::BIGINT
                     AS rrf_micro,
                   coalesce(rank_a, 0)::BIGINT AS rank_a,
                   coalesce(rank_b, 0)::BIGINT AS rank_b
            FROM ra FULL OUTER JOIN rb USING (doc_id))
      SELECT doc_id, rrf_micro, rank_a, rank_b
      FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10
    """,

    "q_rank_tau" -> s"""
      WITH p AS (
        SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      ha AS (SELECT doc_id, tf,
                    count(*) OVER (PARTITION BY term)::BIGINT AS df
             FROM p WHERE term IN ('spark', 'window', 'stream')),
      runa AS (SELECT doc_id,
                      sum((tf * 1000000) // df)::BIGINT AS score
               FROM ha GROUP BY 1
               ORDER BY score DESC, doc_id LIMIT 20),
      ra AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id)::BIGINT AS ra
             FROM runa),
      len AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM p GROUP BY 1),
      st AS (SELECT sum(dl)::BIGINT AS tot, count(*)::BIGINT AS nd
             FROM len),
      hb AS (SELECT p.doc_id, p.tf,
                    count(*) OVER (PARTITION BY p.term)::BIGINT AS df,
                    len.dl, st.tot, st.nd
             FROM p JOIN len USING (doc_id) CROSS JOIN st
             WHERE p.term IN ('spark', 'window', 'stream')),
      sc AS (SELECT doc_id, tf, df,
                    (tot * 1000 // nd)::BIGINT AS s_milli,
                    dl * 1000 AS d_milli, nd
             FROM hb),
      ts AS (SELECT doc_id,
                    ((44 * tf * s_milli * 1000000 //
                       (20 * tf * s_milli + 6 * s_milli + 18 * d_milli))
                     * (nd * 1000000 // df) // 1000000)::BIGINT
                      AS term_score
             FROM sc),
      runb AS (SELECT doc_id, sum(term_score)::BIGINT AS score
               FROM ts GROUP BY 1
               ORDER BY score DESC, doc_id LIMIT 20),
      rb AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id)::BIGINT AS rb
             FROM runb),
      common AS (SELECT doc_id, ra, rb FROM ra JOIN rb USING (doc_id)),
      pr AS (SELECT sign((a.ra - b.ra) * (a.rb - b.rb)) AS s
             FROM common a JOIN common b ON a.doc_id < b.doc_id)
      SELECT sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)::BIGINT AS concordant,
             sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::BIGINT AS discordant,
             count(*)::BIGINT AS n_pairs,
             (sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)
              - sum(CASE WHEN s < 0 THEN 1 ELSE 0 END))::BIGINT AS tau_num,
             count(*)::BIGINT AS tau_den
      FROM pr
    """,

    "q_contamination_matrix" -> s"""
      WITH $minhashLshCtes,
      ab AS (SELECT least(da.source, db.source) AS src_a,
                    greatest(da.source, db.source) AS src_b
             FROM lsh_pairs p
             JOIN documents da ON p.doc_a = da.doc_id
             JOIN documents db ON p.doc_b = db.doc_id)
      SELECT src_a, src_b, count(*) AS dup_pairs
      FROM ab GROUP BY 1, 2
    """,
  )
}
