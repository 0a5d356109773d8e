package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Impact-ordered, twice-bucketed postings layout — the storage shape
  * that finally lets max-score (WAND/block-max) pruning WIN in a
  * scan engine.
  *
  * Round-8's honest A/B showed why plain max-score pruning cannot beat
  * exhaustive BM25 here: the bound pass still READS every hit posting,
  * so pruning saves only the scoring arithmetic (BASELINE.md round-8
  * WAND row). The fix is a layout, not an algorithm: persist postings
  * partitioned by `(term_bucket, doc_bucket)` with every posting's
  * exact BM25 term score PRECOMPUTED (tf, dl, df and the corpus stats
  * are all known at index time — the classic impact-ordered index),
  * and keep a tiny per-`(term, doc_bucket)` block-max sidecar. A
  * search then:
  *
  *   1. reads the sidecar rows for its query terms — |terms| ×
  *      docBuckets rows of planner metadata, the per-block score
  *      ceilings `u(t, b) = max score of t in doc block b`;
  *   2. seeds θ by exactly scoring the top-bound doc blocks only
  *      (a doc's postings all live in its one doc block, so block
  *      scores are complete) — θ = the k-th best exact score there;
  *   3. prunes every doc block with `Σ_t u(t, b) < θ`: no document in
  *      it can reach the top k (score ≤ block bound < θ ≤ k-th best),
  *      strict `<` so θ-ties are kept;
  *   4. scores the surviving blocks and takes the global top k.
  *
  * Both scans filter on PARTITION columns with literal lists, so
  * Catalyst prunes statically: non-query term buckets and pruned doc
  * blocks contribute ZERO file-scan rows — they are never opened
  * (ImpactIndexSpec pins this via the scan's numFiles metric). That is
  * the 100-TB contract: query cost is (query-term posting volume of
  * the surviving blocks), not corpus posting volume.
  *
  * Driver-side work is planner metadata only, mirroring what any
  * database optimizer holds: the sidecar slice (bounded by |terms| ×
  * docBuckets) and the 1-row θ probe. The reference's engine is
  * literally a search index (HouseholdRetentionProcessing.scala:167-186
  * builds ES bool/term queries); this is that capability rebuilt as a
  * Spark-native layout.
  *
  * Results are bit-identical to [[graft.functions.InvertedIndex
  * .bm25Search]] — same integer score arithmetic, same (score DESC,
  * id ASC) top-k — and gated by the same exhaustive DuckDB oracle
  * (`q_bm25_bucketed`).
  *
  * Publish contract ([[Commit.publish]]): a search sees the whole
  * previous build or the whole new one, never one build's ceilings
  * pruning another's postings. Single writer; no search during a build.
  */
object ImpactIndex {

  /** Build the index at `path`: `path/postings` partitioned by
    * `(term_bucket, doc_bucket)` with precomputed integer BM25 term
    * scores, `path/sidecar` with per-(term, doc block) max scores.
    *
    * `docBuckets` is the pruning granularity (more blocks → tighter
    * bounds → more skipped data, but more partitions); `termBuckets`
    * bounds files-per-term-group. Production sizing note in
    * docs/DEPLOY.md applies: target 0.5-2 GB per partition.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            termBuckets: Int = 64, docBuckets: Int = 16): Unit = {
    require(termBuckets > 0 && docBuckets > 0)
    Commit.rebuild(docs.sparkSession, path) { stage =>
      val posts = graft.functions.InvertedIndex.postings(docs, idCol, textCol)
      val dl = posts.groupBy(col(idCol)).agg(sum("tf").as("dl"))
      val stats = dl.agg(sum("dl").as("tot"), count(lit(1)).as("nd"))
      val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // the exact per-posting BM25 term score — the same integer-exact
      // derivation as InvertedIndex.bm25Search, evaluated at INDEX time
      val scored = posts
        .join(dl, idCol)
        .join(dfs, "term")
        .crossJoin(broadcast(stats))
        .withColumn("s_milli", expr("tot * 1000 div nd"))
        .withColumn("score", expr(graft.functions.InvertedIndex
          .termScoreSql("tf", "dl * 1000")))
        .withColumn("term_bucket",
          pmod(xxhash64(col("term")), lit(termBuckets.toLong)))
        .withColumn("doc_bucket",
          pmod(xxhash64(col(idCol)), lit(docBuckets.toLong)))
      // one exchange on the partition tuple so each (tb, db) directory is
      // written by the tasks that own it — without this every task opens
      // a writer per directory (termBuckets × docBuckets small files each)
      scored.select(col("term"), col(idCol), col("tf"), col("score"),
                col("term_bucket"), col("doc_bucket"))
        .repartition(col("term_bucket"), col("doc_bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("term_bucket", "doc_bucket")
        .parquet(s"$stage/postings")
      // sidecar + stats derive from the postings AS WRITTEN, not from the
      // `scored` plan: re-evaluating the plan would re-run tokenization +
      // the dl/df joins per write (double the nightly build cost), and —
      // worse — a nondeterministic `docs` input could produce sidecar
      // ceilings from a DIFFERENT evaluation than the persisted postings,
      // silently breaking the block-bound invariant the prune relies on.
      // Reading back the written files makes the metadata consistent with
      // the data by construction.
      val written = docs.sparkSession.read.parquet(s"$stage/postings")
      // partition columns come back as INT from directory-value
      // inference; the sidecar contract (and its readers) is LONG
      written.groupBy(col("term"),
          col("term_bucket").cast("long").as("term_bucket"),
          col("doc_bucket").cast("long").as("doc_bucket"))
        .agg(max("score").as("max_score"), count(lit(1)).as("n_docs"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/sidecar")
      // pinned corpus stats (the scoring EPOCH): every posting's score
      // was computed against these; delta segments score against the
      // same epoch until the next rebuild folds them in
      written.agg(sum("tf").as("tot"),
                  countDistinct(col(idCol)).as("nd"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/stats")
    }
  }

  /** Planner metadata for one search: the query terms' partition set,
    * the per-doc-block bounds, θ, and the surviving blocks —
    * surfaced so specs can assert the pruning decisions the plan
    * made. */
  final case class SearchStats(termBuckets: Seq[Long],
                               bounds: Map[Long, Long],
                               theta: Long,
                               survivors: Seq[Long])

  /** Top-k BM25 search over a built index — identical results to the
    * exhaustive scorer (same integer arithmetic, same tie-break). */
  def search(spark: SparkSession, path: String, idCol: String,
             terms: Seq[String], k: Int, seedBlocks: Int = 2): DataFrame =
    searchWithStats(spark, path, idCol, terms, k, seedBlocks)._1

  /** [[search]] plus its [[SearchStats]]. `exclude` drops those doc
    * ids from BOTH the θ seed and the final candidates — required by
    * [[searchWithDelta]]'s shadowing semantics (θ derived from a doc
    * the delta shadows would be an unsound prune bound: the shadowed
    * doc is not in the final candidate set, so fewer than k survivors
    * might reach its θ). */
  def searchWithStats(spark: SparkSession, path: String, idCol: String,
                      terms: Seq[String], k: Int, seedBlocks: Int = 2,
                      exclude: Option[DataFrame] = None)
      : (DataFrame, SearchStats) = {
    require(terms.nonEmpty && terms.distinct.size == terms.size)
    require(k > 0 && seedBlocks > 0)
    // 1. sidecar slice: |terms| × docBuckets rows of planner metadata
    val side = Commit.read(spark, path, "sidecar")
      .filter(col("term").isin(terms: _*))
      .select(col("term_bucket"), col("doc_bucket"), col("max_score"))
      .collect()
    val tbq = side.map(_.getLong(0)).distinct.toSeq.sorted
    val bounds: Map[Long, Long] = side.groupBy(_.getLong(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap

    val posts = Commit.read(spark, path, "postings")
    def inSet(c: String, xs: Seq[Long]) =
      if (xs.isEmpty) lit(false) else col(c).isin(xs: _*)
    def scoreOf(dbs: Seq[Long]): DataFrame = {
      val scored = posts
        .filter(inSet("term_bucket", tbq) && inSet("doc_bucket", dbs) &&
                   col("term").isin(terms: _*))
        .groupBy(col(idCol))
        .agg(sum("score").as("score_micro"),
             count(lit(1)).as("n_terms"))
      exclude.fold(scored)(e =>
        scored.join(e.select(col(idCol)), Seq(idCol), "left_anti"))
    }

    // 2. θ seed: exact top-k within the highest-bound doc blocks
    val seed = bounds.toSeq.sortBy { case (b, u) => (-u, b) }
      .take(seedBlocks).map(_._1)
    val theta: Long =
      if (seed.isEmpty) 0L
      else scoreOf(seed)
        .orderBy(col("score_micro").desc, col(idCol)).limit(k)
        .agg(coalesce(
          when(count(lit(1)) >= k, min("score_micro")).otherwise(lit(0L)),
          lit(0L)).as("theta"))
        .head().getLong(0)

    // 3. block-max prune: keep blocks whose ceiling can reach θ
    val survivors = bounds.filter(_._2 >= theta).keys.toSeq.sorted
    // 4. exact top-k over the survivors only
    val out = scoreOf(survivors)
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
    (out, SearchStats(tbq, bounds, theta, survivors))
  }

  /** Top-k BM25 over the main index PLUS an unindexed delta segment —
    * the nightly-index + intraday-delta production shape (a Lucene-
    * style segment pair, rebuilt into one index by the next nightly
    * `build`).
    *
    * Scoring epoch is PINNED to the main build: the delta's postings
    * are scored at query time against the main index's persisted
    * corpus stats (avgdl, N) and per-term df (sidecar) — the standard
    * tiered-index semantics, because re-deriving global stats per
    * delta would silently restate every precomputed main score. A
    * query term unseen at build time falls back to its delta df (df=0
    * would divide by zero; the term's rarity is then delta-local until
    * the rebuild). Delta docs SHADOW main docs with the same id
    * (newest segment wins — the re-delivery semantics KeyedUpsert
    * uses).
    *
    * Scale shape: the main side is the pruned block scan of
    * [[searchWithStats]]; the delta side tokenizes only the delta
    * (intraday-sized) with no index I/O. Exactness contract pinned by
    * ImpactIndexSpec: equals the full formula evaluated over
    * (main ∖ shadowed) ∪ delta under the pinned stats. */
  def searchWithDelta(spark: SparkSession, path: String, idCol: String,
                      delta: DataFrame, textCol: String,
                      terms: Seq[String], k: Int,
                      seedBlocks: Int = 2): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size)
    val stats = Commit.read(spark, path, "stats") // 1 row: tot, nd
    // pinned per-term df from the sidecar (Σ block counts per term)
    val mainDf = Commit.read(spark, path, "sidecar")
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum("n_docs").as("main_df"))
    val deltaPosts = graft.functions.InvertedIndex
      .postings(delta, idCol, textCol)
    val deltaDl = deltaPosts.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val deltaDfs = deltaPosts.groupBy(col("term"))
      .agg(count(lit(1)).as("delta_df"))
    val deltaScored = deltaPosts.filter(col("term").isin(terms: _*))
      .join(deltaDl, idCol)
      .join(deltaDfs, "term")
      .join(broadcast(mainDf), Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("df", coalesce(col("main_df"), col("delta_df")))
      .withColumn("s_milli", expr("tot * 1000 div nd"))
      .withColumn("score", expr(graft.functions.InvertedIndex
        .termScoreSql("tf", "dl * 1000")))
      .groupBy(col(idCol))
      .agg(sum("score").as("score_micro"), count(lit(1)).as("n_terms"))
    val deltaIds = delta.select(col(idCol)).distinct()
    val (mainTop, _) = searchWithStats(spark, path, idCol, terms,
      k, seedBlocks, exclude = Some(deltaIds))
    mainTop.unionByName(deltaScored)
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }
}
