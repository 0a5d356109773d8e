package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Dedup query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object DedupQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- dedup: exact (additive) ----
    "q_dedup_exact" -> ((s, dir) =>
      graft.functions.Dedup.exactGroups(
        Tables.load(s, dir, "documents"), "doc_id", "text")),
    "q_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))),

    // ---- dedup: n-gram Jaccard + MinHash LSH (additive) ----
    // exact substring-duplication spans (Lee et al. span-cutting
    // surface): positional 8-token anchors, corpus-duplicated anchors
    // merged into maximal spans per doc via the islands collapse.
    // Linear in corpus tokens - no pair join
    "q_dup_spans" -> ((s, dir) =>
      graft.functions.Dedup.duplicatedSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", 8)),
    "q_dedup_ngram" -> ((s, dir) => exactPairsFor(s, dir)),
    "q_dedup_minhash_lsh" -> ((s, dir) => lshPairsFor(s, dir)),
    // candidate pairs → duplicate CLUSTERS (connected components):
    // the step that makes pair output actionable (keep min id per
    // component, drop the rest). Shared labeling — survivorship and
    // the leak-free split read the same relation.
    "q_dedup_clusters" -> ((s, dir) => dedupComponentsFor(s, dir)),
    // per-row (aggregation-free) LSH band signatures — the streaming-
    // safe bucketing stage, pinned batch-equal to the wide-agg path
    "q_band_signatures" -> ((s, dir) =>
      graft.functions.Dedup.bandSignatureRows(
        Tables.load(s, dir, "documents"), "doc_id", "text", 3, 16, 4)),
    // batch CROSS-RUN incremental dedup (the nightly-delivery shape):
    // three disjoint deliveries through a persisted KeyedUpsert
    // signature store; the UNION of per-delivery pair emissions must
    // equal the one-shot batch LSH pairs over the full corpus — the
    // delta-vs-union equivalence, checked against the same lsh_pairs
    // oracle as q_dedup_minhash_lsh
    "q_incremental_neardup" -> ((s, dir) => {
      val store = scratchPathFor(s, dir, "incr_store")
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      val docs = Tables.load(s, dir, "documents")
      // 8 store buckets: the fixture corpus is small, and each delivery
      // rewrites touched buckets — 64 would be 192 tiny-file commits of
      // pure overhead here (bucket count is a table-layout knob sized
      // to 0.5-2 GB per bucket in production, docs/DEPLOY.md)
      (0 until 3).map { t =>
        graft.functions.Dedup.incrementalNearDup(s, store,
          docs.filter(pmod(col("doc_id"), lit(3)) === t),
          "doc_id", "text", 3, 16, 4, numBuckets = 8)
      }.reduce(_ unionByName _).distinct()
    }),
    "q_dedup_simhash" -> ((s, dir) =>
      graft.functions.Dedup.simhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 12)),
    "q_dedup_embedding" -> ((s, dir) =>
      graft.functions.Similarity.labelBlockedNearDup(
        Tables.load(s, dir, "embeddings"), 0.4)),
    // ABOVE-the-noise-floor operating point (round-12: the other half
    // of the labelBlockedNearDup contract, measured): t = 0.7 at
    // d = 64 is z = t·√d = 5.6σ into the random-cosine null — the
    // chance tail is gone and output is TRUE-DUP-proportional. The
    // fixture's vectors are pure noise (max within-label cos 0.475),
    // so true dups are PLANTED deterministically: every 50th vector
    // gets a copy (id + 1e9, same label) with component 1 zeroed —
    // cos(v, v') = √(1 − x₁²) ≈ 0.99, identically derivable by the
    // oracle. Expected output = exactly the planted pairs: |corpus|/50
    // rows, LINEAR in corpus where t=0.4's output is quadratic.
    "q_dedup_embedding_hi" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "label", "embedding")
      val planted = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
        .withColumn("embedding",
          concat(array(lit(0.0f)), slice(col("embedding"), 2, 1000000)))
      // round-13: routed — exact kernel while blocks fit the guard
      // bound (every gate scale: oracle rows unchanged), k-means cells
      // above it (sf100's ~200k blocks), where the kernel would refuse
      graft.functions.Similarity.nearDupAuto(
        emb.unionByName(planted), 0.7)
    }),
    // one-call semantic dedup: near-dup pairs → components → survivors
    "q_semantic_dedup" -> ((s, dir) =>
      graft.functions.Similarity.semanticDedup(
        Tables.load(s, dir, "embeddings"), 0.4)),

    // chunk-granularity (passage) duplication stats
    "q_chunk_dedup" -> ((s, dir) =>
      graft.functions.Dedup.chunkDupStats(
        Tables.load(s, dir, "documents"), "doc_id", "text", 8)),
    // cross-document n-gram duplication share (corpus-level
    // boilerplate signal; integer-exact ppm)
    "q_crossdoc_dup" -> ((s, dir) =>
      graft.functions.Dedup.crossDocDupStats(
        Tables.load(s, dir, "documents"), "doc_id", "text", 3)),

    // ---- asymmetric near-dup: n-gram containment (quote/subset
    //      detection), stopgram-capped posting join ----
    "q_containment" -> ((s, dir) =>
      graft.functions.Dedup.containmentPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        3, 600000L, 50)),

    // ---- entity resolution: blocked fuzzy name matching — block on
    //      the noun, bounded edit distance within the block (the
    //      blocking equi-join IS the 100-TB shape: no all-pairs) ----
    "q_entity_match" -> ((s, dir) => {
      val names = Tables.load(s, dir, "part").select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
                element_at(split(col("p_name"), " "), -1).as("blk"))
      names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
                levenshtein(col("a.name"), col("b.name")).as("dist"))
        .filter(col("dist") <= 3)
    }),

    // ---- LSH self-evaluation: recall/precision of the banded MinHash
    //      candidate generator against the exact Jaccard≥0.8 pair set
    //      — the number that tells you whether 16×4 banding is safe to
    //      ship before a 100-TB dedup run. Both sides are the library's
    //      own operators; the tiny pair sets localCheckpoint so LSH
    //      isn't re-derived for the count ----
    "q_lsh_recall" -> ((s, dir) => {
      val exact = exactPairsFor(s, dir).select("doc_a", "doc_b")
      val lsh = lshPairsFor(s, dir) // shared materialized pair relation
      val nl = lsh.agg(count(lit(1)).as("n_lsh"))
      exact.join(lsh.withColumn("hit", lit(1L)),
          Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .crossJoin(broadcast(nl))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          expr("n_hit * 1000000 div n_exact").as("recall_ppm"),
          expr("n_hit * 1000000 div n_lsh").as("precision_ppm"))
    }),

    // ---- ingest-time incremental dedup: which arriving documents (top
    //      tenth of the id range — an arithmetic cutoff, no sort) are
    //      near-dups of the EXISTING corpus. Asymmetric filter on the
    //      LSH candidate pairs: only old→new matches survive, the
    //      report is per new doc ----
    "q_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bounds = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
        .select(expr("mn + (mx - mn) * 9 div 10").as("thr"))
      lshPairsFor(s, dir) // shared materialized pair relation
        .crossJoin(broadcast(bounds))
        .filter(col("doc_b") > col("thr") && col("doc_a") <= col("thr"))
        .groupBy(col("doc_b").as("new_doc"))
        .agg(count(lit(1)).as("n_old_matches"),
          min("doc_a").as("first_partner"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_dedup_exact" -> """
      SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM documents GROUP BY md5(text)
    """,
    "q_fingerprint" -> """
      SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
             min(doc_id) AS keep_id, count(*) AS n_docs
      FROM documents GROUP BY 1
    """,
    "q_dup_spans" -> s"""
      WITH d AS (SELECT doc_id, list_filter($duckToks, x -> x <> '') AS t
                 FROM documents),
      a AS (SELECT doc_id, i AS p,
                   ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')),
                                   1, 15))::BIGINT AS h
            FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
                  FROM d WHERE len(t) >= 8)),
      occ AS (SELECT doc_id, p,
                     count(*) OVER (PARTITION BY h) AS occ
              FROM a),
      dup AS (SELECT doc_id, p FROM occ WHERE occ > 1),
      isl AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL
                            OR p - lag(p) OVER w > 7 THEN 1 ELSE 0
                     END AS brk
              FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      sp AS (SELECT doc_id,
                    sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                                   ROWS UNBOUNDED PRECEDING) AS span, p
             FROM isl),
      spans AS (SELECT doc_id, span, max(p) - min(p) + 8 AS span_tokens
                FROM sp GROUP BY 1, 2),
      per_doc AS (SELECT doc_id, count(*)::BIGINT AS n_anchors
                  FROM a GROUP BY 1)
      SELECT per_doc.doc_id, n_anchors,
             coalesce(x.n_spans, 0)::BIGINT AS n_spans,
             coalesce(x.dup_tokens, 0)::BIGINT AS dup_tokens
      FROM per_doc LEFT JOIN (
        SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
        FROM spans GROUP BY 1) x USING (doc_id)
    """,
    // verification runs over md5-60 HASHED shingle sets in both
    // engines (the string never leaves the scan on the Spark side);
    // counts are identical to string sets absent a 60-bit collision,
    // and a hypothetical collision collapses identically in both
    "q_dedup_ngram" -> s"""
      WITH ex AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        FROM (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
          FROM (SELECT doc_id, $duckToks AS t FROM documents)
          WHERE len(t) >= 3)
      ),
      sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
               round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id)
      WHERE jaccard >= 0.8
    """,
    "q_dedup_minhash_lsh" -> s"""
      WITH $minhashLshCtes
      SELECT doc_a, doc_b FROM lsh_pairs
    """,
    "q_dedup_clusters" -> s"""
      WITH RECURSIVE $minhashLshCtes,
      sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
              UNION SELECT doc_b, doc_a FROM lsh_pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
      )
      SELECT a AS node, min(b) AS component FROM reach GROUP BY a
    """,
    "q_band_signatures" -> s"""
      WITH $minhashLshCtes
      SELECT doc_id, band, sig FROM band
    """,
    // incremental emission unions back to the one-shot batch pair set
    // (delta-vs-union equivalence) — same oracle as the batch query
    "q_incremental_neardup" -> s"""
      WITH $minhashLshCtes
      SELECT doc_a, doc_b FROM lsh_pairs
    """,
    "q_dedup_simhash" -> s"""
      WITH toksd AS (SELECT doc_id, $duckToks AS t FROM documents),
      hs AS (SELECT doc_id, list_transform(t,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hl FROM toksd),
      sims AS (SELECT doc_id,
        list_sum(list_transform(range(60), i ->
          CASE WHEN list_sum(list_transform(hl,
                 h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS sim
        FROM hs),
      bands AS (SELECT doc_id, sim, b, (sim >> (b * 15)) & 32767 AS bv
                FROM sims, range(4) t(b))
      SELECT doc_a, doc_b, hamming FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sim, b.sim))::INT AS hamming
        FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                                 AND a.doc_id < b.doc_id)
      WHERE hamming <= 12
    """,
    "q_dedup_embedding" -> s"""
      SELECT vec_a, vec_b, cos FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ${duckCos("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos >= 0.4
    """,
    "q_dedup_embedding_hi" -> s"""
      WITH aug AS (
        SELECT vec_id, label, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000000, label,
               list_prepend(CAST(0.0 AS FLOAT), embedding[2:])
        FROM embeddings WHERE vec_id % 50 = 0)
      SELECT vec_a, vec_b, cos FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ${duckCos("a.embedding", "b.embedding")} AS cos
        FROM aug a JOIN aug b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos >= 0.7
    """,
    "q_semantic_dedup" -> s"""
      WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${duckCos("a.embedding", "b.embedding")} AS cos
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cos >= 0.4),
      sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs
              UNION SELECT vec_b, vec_a FROM pairs),
      reach(a, b) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u),
      comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
      SELECT e.vec_id, e.label
      FROM embeddings e JOIN comp c USING (vec_id)
      WHERE c.component = e.vec_id
    """,
    "q_chunk_dedup" -> s"""
      WITH ch AS (
        SELECT doc_id, md5(c) AS h FROM (
          SELECT doc_id, unnest(list_transform(range((len(t) + 7) // 8),
                   i -> array_to_string(t[i*8+1:i*8+8], ' '))) AS c
          FROM (SELECT doc_id, $duckToks AS t FROM documents)
          WHERE len(t) > 0 AND t[1] <> '')
      ),
      g AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM ch)
      SELECT doc_id, count(*) AS n_chunks,
             count(*) FILTER (cnt > 1) AS n_dup_chunks
      FROM g GROUP BY doc_id
    """,
    "q_crossdoc_dup" -> s"""
      WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
      dg AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
             FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
                   FROM d WHERE len(t) >= 3)),
      x AS (SELECT doc_id, count(*) AS n_grams,
                   count(*) FILTER (df > 1) AS n_shared
            FROM (SELECT doc_id,
                         count(*) OVER (PARTITION BY gh) AS df FROM dg)
            GROUP BY doc_id)
      SELECT doc.doc_id,
             coalesce(n_grams, 0)::BIGINT AS n_grams,
             coalesce(n_shared, 0)::BIGINT AS n_shared_grams,
             coalesce(n_shared * 1000000 // n_grams, 0)::BIGINT AS shared_ppm
      FROM documents doc LEFT JOIN x USING (doc_id)
    """,

    "q_containment" -> s"""
      WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
      g AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
            FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
                  FROM d WHERE len(t) >= 3)),
      r AS (SELECT doc_id, gh FROM
              (SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS df FROM g)
            WHERE df <= 50),
      sz AS (SELECT doc_id, count(*) AS sz FROM r GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM r a JOIN r b ON a.gh = b.gh AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, inter, sz.sz AS sz_a,
             (inter * 1000000 // sz.sz) AS cont_ppm
      FROM inter JOIN sz ON sz.doc_id = doc_a
      WHERE (inter * 1000000 // sz.sz) >= 600000
    """,

    "q_entity_match" -> """
      WITH n AS (SELECT DISTINCT p_name AS name,
                        split_part(p_name, ' ', -1) AS blk
                 FROM part)
      SELECT a.name AS name_a, b.name AS name_b,
             levenshtein(a.name, b.name)::INT AS dist
      FROM n a JOIN n b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3
    """,

    "q_lsh_recall" -> s"""
      WITH $minhashLshCtes,
      sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS i
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      exact AS (SELECT doc_a, doc_b FROM (
                  SELECT doc_a, doc_b,
                         round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
                  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                             JOIN sizes sb ON doc_b = sb.doc_id)
                WHERE jaccard >= 0.8),
      ne AS (SELECT count(*)::BIGINT AS n_exact FROM exact),
      nl AS (SELECT count(*)::BIGINT AS n_lsh FROM lsh_pairs),
      hit AS (SELECT count(*)::BIGINT AS n_hit
              FROM exact JOIN lsh_pairs USING (doc_a, doc_b))
      SELECT n_exact, n_lsh, n_hit,
             n_hit * 1000000 // n_exact AS recall_ppm,
             n_hit * 1000000 // n_lsh AS precision_ppm
      FROM ne CROSS JOIN nl CROSS JOIN hit
    """,

    "q_incremental_dedup" -> s"""
      WITH $minhashLshCtes,
      bounds AS (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) * 9 // 10
                   AS thr
                 FROM documents)
      SELECT doc_b AS new_doc, count(*) AS n_old_matches,
             min(doc_a) AS first_partner
      FROM lsh_pairs CROSS JOIN bounds
      WHERE doc_b > thr AND doc_a <= thr
      GROUP BY 1
    """,
  )
}
