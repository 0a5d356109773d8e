package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Similarity query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object SimilarityQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // symmetric int8 embedding quantization (integer-exact surface)
    "q_embed_quant" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
                graft.functions.Similarity.maxAbs(col("embedding")).as("s"))
      e.select(col("vec_id"), graft.functions.Similarity
          .int8Quantize(col("embedding"), col("s")).as("q"))
        .select(col("vec_id"),
                aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
                aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_abs_sum"),
                array_min(col("q")).as("q_min"),
                array_max(col("q")).as("q_max"))
    }),

    // ---- embedding similarity (additive) ----
    "q_sim_cosine_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.functions.Similarity.cosineTopK(
        emb.filter(col("vec_id") < 5), emb, 10)
    }),
    // the same top-k ranked over the 4×-smaller int8 corpus (recall
    // vs the float baseline is spec-pinned; scores integer-exact)
    "q_sim_quant_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.functions.Similarity.quantizedTopK(
        emb.filter(col("vec_id") < 5), emb, 10)
    }),
    // MMR diversified top-k: greedy coverage-aware selection from the
    // relevance top-20, integer dot products end to end (see
    // Similarity.mmrSelect for the portability contract)
    "q_mmr_rerank" -> ((s, dir) =>
      graft.functions.Similarity.mmrSelect(
        Tables.load(s, dir, "embeddings"), 0L, 20, 5)),
    "q_sim_lsh_buckets" -> ((s, dir) =>
      graft.functions.Similarity.hyperplaneLshBuckets(
        Tables.load(s, dir, "embeddings"), 16, 4)),
    "q_sim_ann_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.functions.Similarity.annIvf(
        emb.filter(col("vec_id") < 5), emb, 2, 5)
    }),

    // ---- embedding norms (sequential-fold float contract) ----
    "q_embed_norm" -> ((s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
                size(col("embedding")).as("dim"),
                round(graft.functions.Similarity.norm(col("embedding")), 6)
                  .as("l2_norm"))),

    // ---- exact k-NN self-join: the all-pairs RECALL BASELINE the ANN
    //      ops are judged against — deliberately N², guarded by
    //      knnJoin's maxPairs raise_error ceiling (fires ~2e9 pair
    //      evaluations; the sf10 fixture's 200k vectors trip it by
    //      design). NEVER the scale path: corpus-scale kNN is
    //      q_sim_ann_ivf / q_sim_ann_kmeans ----
    "q_knn_join" -> ((s, dir) =>
      graft.functions.Similarity.knnJoin(
        Tables.load(s, dir, "embeddings"), 3)),

    // ---- deterministic quantized k-means: computes the coarse cells
    //      q_sim_ann_ivf otherwise takes as given; integer-exact
    //      iterations, oracle unrolls them as CTE stages ----
    "q_kmeans" -> ((s, dir) =>
      kmeansModelFor(s, dir, 8, 2)._1
        .select(col("vec_id"), col("cid"),
                col("dist").cast("long").as("dist_q"))),
    // SemDeDup proper: within-kmeans-cell cosine pruning, min-id keeper
    "q_semdedup" -> ((s, dir) =>
      graft.functions.Similarity.semDedupFromAssigned(
        kmeansModelFor(s, dir, 8, 2)._1, 0.5)),
    // embedding outliers: top-decile distance-to-centroid within each
    // k-means cell (row_number·10 ≤ cell size — integer-exact decile),
    // the noise/mislabel pruning pass next to SemDeDup's near-dup one
    "q_emb_outliers" -> ((s, dir) => {
      val asg = kmeansModelFor(s, dir, 8, 2)._1
        .select(col("vec_id"), col("cid"),
                col("dist").cast("long").as("dist_q"))
      val w = Window.partitionBy("cid")
        .orderBy(col("dist_q").desc, col("vec_id"))
      asg.withColumn("n_c", count(lit(1)).over(Window.partitionBy("cid")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") * 10 <= col("n_c"))
        .select(col("vec_id"), col("cid"), col("dist_q"), col("rk"))
    }),
    // cluster-balanced deterministic sample (SemDeDup/D4-style): ≤10
    // vectors per k-means cluster in seeded-hash order, so the draw
    // covers embedding space instead of mirroring density skew
    "q_cluster_sample" -> ((s, dir) =>
      graft.functions.Similarity.clusterSampleFromAssigned(
        kmeansModelFor(s, dir, 8, 2)._1, 10)),
    // the composed pipeline: quantize → cluster → probe nearest cells
    "q_sim_ann_kmeans" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, cents) = kmeansModelFor(s, dir, 8, 2)
      graft.functions.Similarity.annIvfFromModel(
        emb.filter(col("vec_id") < 5), assigned, cents, 2, 5)
    }),

    // ---- grouped embedding centroids: per-label mean vector in exact
    //      micro units — posexplode + (label, pos) groupBy, the vector
    //      aggregation behind IVF seeding and drift monitoring. The
    //      +10000·n shift makes the division numerator positive so
    //      Spark's truncating `div` and DuckDB's flooring `//` agree
    //      on negative component sums ----
    "q_emb_centroid" -> ((s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")))
        .select(col("label"), col("pos").cast("long").as("pos"),
          floor(col("col").cast("double") * 1000 + 0.5).cast("long")
            .as("v_milli"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), sum("v_milli").as("sum_milli"))
        .withColumn("centroid_micro",
          expr("(sum_milli + 10000 * n) * 1000 div n - 10000000"))),

    // ---- weighted sparse cosine pairs: TF-vector similarity via a
    //      postings join on the token key, df-capped at 20% of the
    //      corpus (both the stopword guard and the candidate-volume
    //      bound — postings above the cap would dominate the join
    //      quadratically at corpus scale). The cap is FRACTIONAL, not
    //      absolute: an absolute df≤100 emptied the vocabulary at the
    //      sf1 sweep (every term outgrew it); 20% of sf0.01's 500 docs
    //      is the old 100 exactly. Cosine² stays integral: cos²·1e6 =
    //      dot²·1e6 div (‖a‖²·‖b‖²), threshold 0.25 = cos ≥ 0.5.
    //
    //      CONTRACT — exact all-pairs similarity search (APSS) is
    //      OUTPUT-quadratic on overlap-heavy corpora: the pair list
    //      itself grows as the clique sizes square (sf0.01→sf1
    //      measured 300→3.1M result rows for 100× docs), so no
    //      candidate filter can make it sublinear. The Σ C(df,2)
    //      guard below enforces the bound loudly (the knnJoin/
    //      labelBlockedNearDup pattern; sf10 measured 6.3e10
    //      candidates — 70 GB of spill before the guard existed).
    //      Corpus-scale similarity belongs on the banded/bucketed
    //      paths: q_dedup_minhash_lsh, q_sim_ann_ivf, or BM25 via
    //      sources.ImpactIndex ----
    "q_sparse_cosine_pairs" -> ((s, dir) => {
      // the TF vectors ARE the shared postings relation (identical
      // normalize+split tokenization) — reuse the materialized index
      // stage the retrieval queries built instead of re-tokenizing
      val tf = postingsFor(s, dir)
        .select(col("doc_id"), col("term").as("w"), col("tf"))
      val kept0 = tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy("w")))
        .crossJoin(broadcast(Tables.load(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"))))
        .filter(expr("df * 100 <= n_docs * 20")).drop("n_docs")
      // candidate-volume ceiling: Σ C(df,2) over the kept vocabulary,
      // broadcast back as a one-row guard — codegen'd raise_error,
      // evaluates only on violation
      val maxPairs = 2000000000L
      val volume = kept0.groupBy("w").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("cand"))
      val kept = kept0.crossJoin(broadcast(volume))
        .withColumn("doc_id",
          when(col("cand") > maxPairs,
            expr(s"raise_error(concat('q_sparse_cosine_pairs: ', cand, " +
              s"' candidate pairs exceeds $maxPairs — exact APSS is " +
              "output-quadratic on overlap-heavy corpora; route through " +
              "minhash LSH / annIvf / ImpactIndex'))"))
            .otherwise(col("doc_id")))
        .drop("cand")
      val norms = kept.groupBy("doc_id")
        .agg(sum(expr("tf * tf")).as("n2"))
      val dot = kept.select(col("doc_id").as("doc_a"), col("w"),
          col("tf").as("tfa"))
        .join(kept.select(col("doc_id").as("doc_b"), col("w"),
          col("tf").as("tfb")), Seq("w"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(expr("tfa * tfb")).as("dot"))
      dot
        .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")),
          Seq("doc_a"))
        .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
          Seq("doc_b"))
        .withColumn("cos2_ppm", expr("dot * dot * 1000000 div (na * nb)"))
        .filter(col("cos2_ppm") >= 250000)
        .select("doc_a", "doc_b", "dot", "cos2_ppm")
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    "q_embed_quant" -> """
      WITH s AS (SELECT vec_id, embedding,
                        CAST(list_max(list_transform(embedding, x -> abs(x)))
                             AS DOUBLE) AS s
                 FROM embeddings),
      q AS (SELECT vec_id,
                   CASE WHEN s = 0 THEN list_transform(embedding, x -> 0::BIGINT)
                        ELSE list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5)
                                    AS BIGINT))
                   END AS q
            FROM s)
      SELECT vec_id,
             (list_sum(q))::BIGINT AS q_sum,
             (list_sum(list_transform(q, x -> abs(x))))::BIGINT AS q_abs_sum,
             (list_min(q))::BIGINT AS q_min,
             (list_max(q))::BIGINT AS q_max
      FROM q
    """,
    "q_sim_cosine_topk" -> s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               ${duckCos("qe", "e.embedding")} AS cos
        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 10
    """,
    "q_sim_quant_topk" -> s"""
      WITH sc AS (SELECT vec_id,
                    CAST(list_max(list_transform(embedding, x -> abs(x)))
                         AS DOUBLE) AS s
                  FROM embeddings),
      qv AS (SELECT e.vec_id,
               CASE WHEN sc.s = 0
                    THEN list_transform(e.embedding, x -> 0.0)
                    ELSE list_transform(e.embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc.s + 0.5)
                                AS DOUBLE))
               END AS embedding
             FROM embeddings e JOIN sc USING (vec_id)),
      q AS (SELECT vec_id AS query_id, embedding AS qe
            FROM qv WHERE vec_id < 5),
      scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               ${duckCos("qe", "e.embedding")} AS cos
        FROM q CROSS JOIN qv e WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 10
    """,

    "q_mmr_rerank" -> s"""
      WITH sc AS (SELECT vec_id,
                    CAST(list_max(list_transform(embedding, x -> abs(x)))
                         AS DOUBLE) AS s
                  FROM embeddings),
      qv AS (SELECT e.vec_id,
               CASE WHEN sc.s = 0
                    THEN list_transform(e.embedding, x -> 0.0)
                    ELSE list_transform(e.embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc.s + 0.5)
                                AS DOUBLE))
               END AS embedding
             FROM embeddings e JOIN sc USING (vec_id)),
      q0 AS (SELECT embedding AS qe FROM qv WHERE vec_id = 0),
      cand AS (SELECT vec_id, embedding,
                      ${duckIDot("embedding", "qe")} AS rel
               FROM qv CROSS JOIN q0 WHERE vec_id <> 0
               ORDER BY rel DESC, vec_id LIMIT 20),
      pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
                       ${duckIDot("a.embedding", "b.embedding")} AS sim
                FROM cand a CROSS JOIN cand b WHERE a.vec_id <> b.vec_id),
      s1 AS (SELECT vec_id, rel, 0::BIGINT AS redundancy, 1::BIGINT AS rank
             FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      sel1 AS (SELECT * FROM s1),
      r2 AS (SELECT p.a AS vec_id, max(p.sim)::BIGINT AS red
             FROM pairs p JOIN sel1 s ON p.b = s.vec_id GROUP BY 1),
      s2 AS (SELECT c.vec_id, c.rel, r2.red AS redundancy, 2::BIGINT AS rank
             FROM cand c JOIN r2 USING (vec_id)
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
             ORDER BY c.rel - r2.red DESC, c.vec_id LIMIT 1),
      sel2 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM s2),
      r3 AS (SELECT p.a AS vec_id, max(p.sim)::BIGINT AS red
             FROM pairs p JOIN sel2 s ON p.b = s.vec_id GROUP BY 1),
      s3 AS (SELECT c.vec_id, c.rel, r3.red AS redundancy, 3::BIGINT AS rank
             FROM cand c JOIN r3 USING (vec_id)
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
             ORDER BY c.rel - r3.red DESC, c.vec_id LIMIT 1),
      sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM s3),
      r4 AS (SELECT p.a AS vec_id, max(p.sim)::BIGINT AS red
             FROM pairs p JOIN sel3 s ON p.b = s.vec_id GROUP BY 1),
      s4 AS (SELECT c.vec_id, c.rel, r4.red AS redundancy, 4::BIGINT AS rank
             FROM cand c JOIN r4 USING (vec_id)
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
             ORDER BY c.rel - r4.red DESC, c.vec_id LIMIT 1),
      sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM s4),
      r5 AS (SELECT p.a AS vec_id, max(p.sim)::BIGINT AS red
             FROM pairs p JOIN sel4 s ON p.b = s.vec_id GROUP BY 1),
      s5 AS (SELECT c.vec_id, c.rel, r5.red AS redundancy, 5::BIGINT AS rank
             FROM cand c JOIN r5 USING (vec_id)
             WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
             ORDER BY c.rel - r5.red DESC, c.vec_id LIMIT 1),
      sel5 AS (SELECT * FROM sel4 UNION ALL SELECT * FROM s5)
      SELECT rank, vec_id, rel, redundancy FROM sel5
    """,
    "q_sim_ann_ivf" -> s"""
      WITH cent AS (
        SELECT label, list(c ORDER BY i) AS centroid FROM (
          SELECT label, i, round(avg(embedding[i]::DOUBLE), 9) AS c
          FROM embeddings, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      q AS (SELECT vec_id AS query_id, embedding AS qe
            FROM embeddings WHERE vec_id < 5),
      probe AS (
        SELECT query_id, qe, label FROM (
          SELECT query_id, qe, label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ccos DESC, label) AS crank
          FROM (SELECT query_id, qe, c.label,
                       ${duckCos("qe", "centroid")} AS ccos
                FROM q CROSS JOIN cent c))
        WHERE crank <= 2),
      scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               ${duckCos("qe", "e.embedding")} AS cos
        FROM probe p JOIN embeddings e ON e.label = p.label
        WHERE e.vec_id <> p.query_id)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5
    """,
    "q_sim_lsh_buckets" -> """
      WITH pl AS (
        SELECT p, d,
               ((('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT
                 % 2001) - 1000) AS w
        FROM range(64) t(p), range(64) s(d)
      ),
      q AS (
        SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, range(64) s(d)
      ),
      dots AS (
        SELECT vec_id, p, sum(q.q * pl.w) AS dot
        FROM q JOIN pl ON q.d = pl.d GROUP BY vec_id, p
      ),
      bits AS (
        SELECT vec_id, p // 16 AS band, p,
               CASE WHEN dot > 0 THEN 1 ELSE 0 END AS bit
        FROM dots
      )
      SELECT vec_id, band,
             sum(bit << (p % 16))::BIGINT AS bucket
      FROM bits GROUP BY vec_id, band
    """,
    "q_embed_norm" -> """
      SELECT vec_id, len(embedding)::INT AS dim,
             round(sqrt(list_sum(list_transform(range(1, 65),
               i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))), 6)
               AS l2_norm
      FROM embeddings
    """,
    "q_knn_join" -> s"""
      WITH n AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(1, 65),
                 i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
        FROM embeddings),
      scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               round(list_sum(list_transform(range(1, 65),
                       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                     / nullif(a.nrm * b.nrm, 0), 6) AS cos
        FROM n a JOIN n b ON a.vec_id <> b.vec_id)
      SELECT vec_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 3
    """,
    "q_kmeans" -> (kmeansCtes(8, 2) + """
      SELECT vec_id, cid, dist::BIGINT AS dist_q FROM a2
    """),
    "q_semdedup" -> (kmeansCtes(8, 2) + s""",
      asg AS (SELECT vec_id, embedding, cid FROM a2),
      pr AS (SELECT a.cid, b.vec_id AS victim,
                    ${duckCos("a.embedding", "b.embedding")} AS cos
             FROM asg a JOIN asg b
               ON a.cid = b.cid AND a.vec_id < b.vec_id),
      dr AS (SELECT DISTINCT cid, victim FROM pr WHERE cos >= 0.5),
      nv AS (SELECT cid, count(*)::BIGINT AS n_vecs FROM asg GROUP BY 1)
      SELECT nv.cid, n_vecs,
             coalesce(d.n, 0)::BIGINT AS n_dropped,
             (n_vecs - coalesce(d.n, 0))::BIGINT AS n_kept
      FROM nv LEFT JOIN (SELECT cid, count(*) AS n FROM dr GROUP BY 1) d
        USING (cid)
    """),
    "q_emb_outliers" -> (kmeansCtes(8, 2) + """
      SELECT vec_id, cid, dist_q, rk FROM (
        SELECT vec_id, cid, dist::BIGINT AS dist_q,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY dist DESC, vec_id)::BIGINT AS rk,
               count(*) OVER (PARTITION BY cid) AS n_c
        FROM a2)
      WHERE rk * 10 <= n_c
    """),
    "q_cluster_sample" -> (kmeansCtes(8, 2) + """
      SELECT vec_id, cid, rk FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY cid ORDER BY h, vec_id)
                 ::BIGINT AS rk
        FROM (SELECT vec_id, cid,
                     ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT
                       AS h
              FROM a2))
      WHERE rk <= 10
    """),
    "q_sim_ann_kmeans" -> (kmeansCtes(8, 2) + s""",
      q AS (SELECT vec_id AS query_id, embedding AS qe, xx
            FROM xx WHERE vec_id < 5),
      probe AS (SELECT query_id, qe, cid FROM (
          SELECT q.query_id, q.qe, s.cid,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY q.xx - 2 * list_sum(list_transform(range(1, 65),
                              i -> q.qe[i] * s.ce[i])) + s.cc,
                            s.cid) AS crank
          FROM q CROSS JOIN (SELECT cid, ce,
                  list_sum(list_transform(range(1, 65), i -> ce[i] * ce[i]))
                    AS cc FROM c2) s)
        WHERE crank <= 2),
      scored AS (SELECT query_id, a.vec_id AS neighbor_id,
                        ${duckCos("qe", "a.embedding")} AS cos
                 FROM probe p JOIN a2 a ON a.cid = p.cid
                 WHERE a.vec_id <> p.query_id)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5
    """),

    "q_emb_centroid" -> """
      WITH ex AS (SELECT label::BIGINT AS label,
                         unnest(list_transform(range(len(embedding)),
                           i -> {'pos': i,
                                 'v': floor(CAST(embedding[i+1] AS DOUBLE)
                                            * 1000 + 0.5)::BIGINT})) AS u
                  FROM embeddings),
      g AS (SELECT label, u.pos::BIGINT AS pos, count(*) AS n,
                   sum(u.v)::BIGINT AS sum_milli
            FROM ex GROUP BY 1, 2)
      SELECT label, pos, n, sum_milli,
             ((sum_milli + 10000 * n) * 1000 // n - 10000000)::BIGINT
               AS centroid_micro
      FROM g
    """,

    "q_sparse_cosine_pairs" -> s"""
      WITH tok AS (SELECT doc_id,
                          unnest(list_filter($duckToks, x -> x <> ''))
                            AS w
                   FROM documents),
      tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf
             FROM tok GROUP BY 1, 2),
      kept AS (SELECT doc_id, w, tf
               FROM (SELECT doc_id, w, tf,
                            count(*) OVER (PARTITION BY w) AS df
                     FROM tf)
               WHERE df * 100 <= 20 * (SELECT count(*) FROM documents)),
      norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2
                FROM kept GROUP BY 1),
      dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     sum(a.tf * b.tf)::BIGINT AS dot
              FROM kept a JOIN kept b
                ON a.w = b.w AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
      SELECT doc_a, doc_b, dot,
             dot * dot * 1000000 // (na.n2 * nb.n2) AS cos2_ppm
      FROM dot
      JOIN norms na ON doc_a = na.doc_id
      JOIN norms nb ON doc_b = nb.doc_id
      WHERE dot * dot * 1000000 // (na.n2 * nb.n2) >= 250000
    """,
  )
}
