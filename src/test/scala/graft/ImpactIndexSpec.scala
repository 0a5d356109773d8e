package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.functions.InvertedIndex
import graft.sources.ImpactIndex

/** Impact-index contracts: bit-identical results to the exhaustive
  * BM25 scorer, and the layout claim that pruned doc blocks are NEVER
  * read — zero file-scan contribution, asserted on the scan's
  * numFiles metric against the actual directory tree. */
class ImpactIndexSpec extends SparkSpec {
  import spark.implicits._

  /** All file scans of an EXECUTED plan — descending through the AQE
    * wrapper and into materialized query stages (both are childless
    * nodes to collectLeaves, which would otherwise see no scan at
    * all). */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  private def filesScanned(df: org.apache.spark.sql.DataFrame): Long =
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum

  private def filesUnder(dir: String, keep: String => Boolean): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).count(f => f.getName.endsWith(".parquet") &&
      keep(f.getPath)).toLong
  }

  private def topk(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq

  test("search is bit-identical to exhaustive BM25 on a random corpus") {
    val rnd = new Random(11)
    val vocab = Vector("spark", "window", "stream", "shuffle", "join",
      "agg", "scan", "sort", "hash", "merge", "plan", "code")
    val docs = (0L until 300L).map { i =>
      val n = 3 + rnd.nextInt(40)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val path = Files.createTempDirectory("impact").toString
    ImpactIndex.build(docs, "doc_id", "text", path,
      termBuckets = 8, docBuckets = 4)
    for (terms <- Seq(Seq("spark", "window", "stream"), Seq("join"),
                      Seq("hash", "merge", "plan", "code"))) {
      val exact = topk(InvertedIndex.bm25Search(docs, "doc_id", "text", terms, 10))
      val pruned = topk(ImpactIndex.search(spark, path, "doc_id", terms, 10))
      assert(pruned == exact, s"terms=$terms")
    }
  }

  test("terms absent from the corpus return an empty top-k") {
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("impact").toString
    ImpactIndex.build(docs, "doc_id", "text", path, 4, 2)
    assert(ImpactIndex.search(spark, path, "doc_id", Seq("zeta"), 5)
      .count() == 0)
  }

  test("pruned doc blocks contribute zero file-scan rows (never opened)") {
    val docBuckets = 4
    // choose the hot block FROM the layout's own hash, then make every
    // doc in it a strong match and every other doc a weak one-term,
    // long-document match — the weak blocks' ceilings land far under θ
    val ids = (0L until 400L).toDF("doc_id")
      .withColumn("db", pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)))
    val hot = ids.filter(col("db") === 0).select("doc_id")
      .as[Long].collect().toSet
    assert(hot.size >= 10, s"degenerate hash split: ${hot.size}")
    val docs = (0L until 400L).map { i =>
      if (hot(i)) (i, Seq.fill(10)("spark window stream").mkString(" "))
      else (i, "spark " + (0 until 300).map(j => s"w${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    val path = Files.createTempDirectory("impact").toString
    ImpactIndex.build(docs, "doc_id", "text", path,
      termBuckets = 8, docBuckets = docBuckets)

    val (res, st) = ImpactIndex.searchWithStats(spark, path, "doc_id",
      Seq("spark", "window", "stream"), 5)
    // every block holds a 'spark' posting, so all 4 carry a bound…
    assert(st.bounds.size == docBuckets, st.toString)
    // …but θ (5 strong exact scores) kills every weak block
    assert(st.survivors == Seq(0L), st.toString)

    // the final pass must equal the exhaustive scorer… (collect() on
    // res ITSELF — .as[...] would re-plan and leave res's scan
    // metrics, read below, unexecuted)
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got ==
      topk(InvertedIndex.bm25Search(docs, "doc_id", "text",
        Seq("spark", "window", "stream"), 5)))
    // …while opening ONLY the surviving partitions' files: the scan's
    // numFiles equals the on-disk file count under
    // term_bucket ∈ query buckets × doc_bucket = 0, strictly less
    // than the query-term buckets' total
    val scanned = filesScanned(res)
    val tbDirs = st.termBuckets.map(tb => s"term_bucket=$tb")
    def inQueryTb(p: String) = tbDirs.exists(p.contains)
    val surviving = filesUnder(s"$path/postings",
      p => inQueryTb(p) && p.contains("doc_bucket=0"))
    val allQueryTb = filesUnder(s"$path/postings", inQueryTb)
    assert(scanned == surviving,
      s"scanned=$scanned surviving=$surviving")
    assert(scanned < allQueryTb,
      s"pruning freed no files: scanned=$scanned of $allQueryTb")
  }

  // ---- delta segment (pinned-epoch tiered search) ---------------------

  /** Reference implementation of the pinned-epoch contract, computed
    * independently: score (main ∖ shadowed) ∪ delta with avgdl/N/df
    * all taken from the MAIN corpus (delta-df fallback for unseen
    * terms), exactly what searchWithDelta promises. */
  private def pinnedExpected(main: org.apache.spark.sql.DataFrame,
                             delta: org.apache.spark.sql.DataFrame,
                             terms: Seq[String], k: Int)
      : Seq[(Long, Long, Long)] = {
    val pm = InvertedIndex.postings(main, "doc_id", "text")
    val dlm = pm.groupBy(col("doc_id")).agg(sum("tf").as("dl"))
    val stats = dlm.agg(sum("dl").as("tot"), count(lit(1)).as("nd"))
    val dfm = pm.groupBy(col("term")).agg(count(lit(1)).as("main_df"))
    val pd = InvertedIndex.postings(delta, "doc_id", "text")
    val dld = pd.groupBy(col("doc_id")).agg(sum("tf").as("dl"))
    val dfd = pd.groupBy(col("term")).agg(count(lit(1)).as("delta_df"))
    val deltaIds = delta.select("doc_id").distinct()
    val mainSide = pm.join(deltaIds, Seq("doc_id"), "left_anti")
      .join(dlm, "doc_id").join(dfm, "term")
      .withColumn("df", col("main_df"))
    val deltaSide = pd.join(dld, "doc_id").join(dfd, "term")
      .join(dfm, Seq("term"), "left")
      .withColumn("df", coalesce(col("main_df"), col("delta_df")))
    val scored = mainSide
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"))
      .unionByName(deltaSide
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl")))
      .filter(col("term").isin(terms: _*))
      .crossJoin(broadcast(stats))
      .withColumn("s_milli", expr("tot * 1000 div nd"))
      .withColumn("score", expr(
        "(44 * tf * s_milli * 1000000 div" +
        " (20 * tf * s_milli + 6 * s_milli + 18 * dl * 1000))" +
        " * (nd * 1000000 div df) div 1000000"))
      .groupBy(col("doc_id"))
      .agg(sum("score").as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
    topk(scored)
  }

  test("delta segment: pinned-epoch scores, shadowing, unseen terms") {
    val rnd = new Random(23)
    val vocab = Vector("spark", "window", "stream", "shuffle", "join",
      "agg", "scan", "sort")
    def text(): String =
      Seq.fill(4 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    val main = (0L until 200L).map(i => (i, text())).toDF("doc_id", "text")
    // delta: 30 new docs, 5 shadowing main ids (0..4) with NEW text,
    // and a term the main corpus never saw ("quantum")
    val delta = ((200L until 230L).map(i => (i, text())) ++
      (0L until 5L).map(i => (i, "spark quantum " + text())))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("impactd").toString
    ImpactIndex.build(main, "doc_id", "text", path, 8, 4)

    for (terms <- Seq(Seq("spark", "window"), Seq("spark", "quantum"),
                      Seq("stream", "join", "agg"))) {
      val got = topk(ImpactIndex.searchWithDelta(spark, path, "doc_id",
        delta, "text", terms, 12))
      assert(got == pinnedExpected(main, delta, terms, 12), s"terms=$terms")
    }
    // a shadowed id's score must come from its DELTA text: doc 0's new
    // text contains quantum, which only delta docs can match
    val q = topk(ImpactIndex.searchWithDelta(spark, path, "doc_id",
      delta, "text", Seq("quantum"), 10))
    assert(q.nonEmpty && q.map(_._1).forall(id => id < 5L))
  }

  test("empty delta degrades to the plain pruned search") {
    val docs = (0L until 80L)
      .map(i => (i, if (i % 3 == 0) "spark stream spark" else "spark window"))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("impacte").toString
    ImpactIndex.build(docs, "doc_id", "text", path, 4, 4)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(topk(ImpactIndex.searchWithDelta(spark, path, "doc_id",
        empty, "text", Seq("spark", "stream"), 7)) ==
      topk(ImpactIndex.search(spark, path, "doc_id",
        Seq("spark", "stream"), 7)))
  }

  test("a uniform corpus prunes nothing and still matches (θ-tie safety)") {
    // every doc identical → every block bound == θ; strict-< keeps all
    val docs = (0L until 60L).map(i => (i, "spark window stream"))
      .toDF("doc_id", "text")
    val path = Files.createTempDirectory("impact").toString
    ImpactIndex.build(docs, "doc_id", "text", path, 4, 4)
    val (res, st) = ImpactIndex.searchWithStats(spark, path, "doc_id",
      Seq("spark", "window"), 7)
    assert(st.survivors.sorted == st.bounds.keys.toSeq.sorted)
    assert(topk(res) ==
      topk(InvertedIndex.bm25Search(docs, "doc_id", "text",
        Seq("spark", "window"), 7)))
  }

  // ---- publish (whole previous build or whole new one) -----------------

  private def corpus(seed: Int, idOffset: Long): org.apache.spark.sql.DataFrame = {
    val rnd = new Random(seed)
    val vocab = Vector("spark", "window", "stream", "shuffle", "join",
      "agg", "scan", "sort", "hash", "merge")
    (0L until 120L).map { i =>
      (i + idOffset,
       Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private val crashTerms = Seq("spark", "merge", "scan")

  /** The index at `path` is one whole build of `a` or of `b`: a search
    * equals the exhaustive scorer over the corpus its postings hold, and
    * the sidecar and stats are what those postings derive. */
  private def assertWhole(path: String, a: org.apache.spark.sql.DataFrame,
                          b: org.apache.spark.sql.DataFrame): Unit = {
    val got = topk(ImpactIndex.search(spark, path, "doc_id", crashTerms, 10))
    val posts = spark.read.parquet(s"$path/postings")
    val ids = posts.select("doc_id").distinct().as[Long].collect()
    assert(ids.length == 120 && (ids.forall(_ < 1000L) || ids.forall(_ >= 1000L)),
      s"postings of both builds: ${ids.sorted.mkString(",")}")
    val docs = if (ids.head < 1000L) a else b
    assert(got == topk(InvertedIndex.bm25Search(docs, "doc_id", "text", crashTerms, 10)))
    val sidecar = posts.groupBy(col("term"),
        col("term_bucket").cast("long").as("term_bucket"),
        col("doc_bucket").cast("long").as("doc_bucket"))
      .agg(max("score").as("max_score"), count(lit(1)).as("n_docs"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(spark.read.parquet(s"$path/sidecar")) == rows(sidecar))
    assert(rows(spark.read.parquet(s"$path/stats")) ==
      rows(posts.agg(sum("tf").as("tot"), countDistinct(col("doc_id")).as("nd"))))
    assert(CrashPoints.leftovers(spark, path).isEmpty,
      CrashPoints.leftovers(spark, path))
  }

  test("a rebuild crashed at any rename leaves the whole old or the whole new index") {
    val a = corpus(41, 0L)
    val b = corpus(42, 1000L)
    val path = CrashPoints.trapPath(spark, "impact_crash", "idx")
    CrashPoints.oneWriter(spark) {
      ImpactIndex.build(a, "doc_id", "text", path, 4, 2)
      val points = CrashPoints.everyRename(
        ImpactIndex.build(b, "doc_id", "text", path, 4, 2))(assertWhole(path, a, b))
      println(s"ImpactIndex rebuild: $points crash points covered")
      assert(points > 2)
    }
    assert(spark.read.parquet(s"$path/postings").filter(col("doc_id") < 1000L).isEmpty)
  }

  test("a build whose publish a search rolled back throws; a re-run commits") {
    val a = corpus(43, 0L)
    val b = corpus(44, 1000L)
    val path = CrashPoints.trapPath(spark, "impact_commit", "idx")
    ImpactIndex.build(a, "doc_id", "text", path, 4, 2)
    TrapFs.after = (src, dst) =>
      if (src.getName.endsWith("_graft_stage") && dst.getName == "idx") {
        TrapFs.reset()
        ImpactIndex.search(spark, path, "doc_id", crashTerms, 10)
      }
    val e = try intercept[IllegalStateException] {
      ImpactIndex.build(b, "doc_id", "text", path, 4, 2)
    } finally TrapFs.reset()
    assert(e.getMessage.contains("Re-run the rebuild"), e.getMessage)
    assertWhole(path, a, b)
    assert(spark.read.parquet(s"$path/postings").filter(col("doc_id") >= 1000L).isEmpty)
    ImpactIndex.build(b, "doc_id", "text", path, 4, 2)
    assertWhole(path, a, b)
    assert(spark.read.parquet(s"$path/postings").filter(col("doc_id") < 1000L).isEmpty)
  }
}
