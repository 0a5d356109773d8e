package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.sources.DedupIndex

/** Contracts for the persisted dedup index (round-12: the
  * stored-artifact form of the shared LSH pair relation):
  *
  *   1. stored pairs == `Dedup.lshCandidatePairs` over the same corpus
  *      (build-then-read changes the storage, never the relation — the
  *      property that keeps every downstream oracle hash unchanged);
  *   2. the manifest epoch detects any corpus change (id add, content
  *      change) and accepts the exact build corpus;
  *   3. `pairsWithDelta` == a full rebuild over
  *      (stored ∖ shadowed ids) ∪ delta — the delta-proportional read
  *      path with newest-segment-wins shadowing.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(seed: Long, nDocs: Int, idOffset: Long = 0L): DataFrame = {
    val r = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    (0L until nDocs.toLong).map { i =>
      val len = 5 + r.nextInt(12)
      // duplicate-heavy: half the docs repeat one of 8 templates
      val words =
        if (i % 2 == 0) Seq.fill(10)(vocab(((i / 2) % 8).toInt))
        else Seq.fill(len)(vocab(r.nextInt(vocab.size)))
      (i + idOffset, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dedupidx_$tag").toString

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("stored pairs equal the in-session pair relation") {
    val d = docs(3L, 150)
    val path = tmp("eq")
    DedupIndex.build(d, "doc_id", "text", path)
    val want = pairSet(Dedup.lshCandidatePairs(d, "doc_id", "text", 3, 16, 4))
    val got = pairSet(DedupIndex.pairs(spark, path))
    assert(want.nonEmpty, "fixture must produce candidate pairs")
    assert(got == want)
  }

  test("manifest epoch: fresh on the build corpus, stale on any change") {
    val d = docs(5L, 80)
    val path = tmp("fresh")
    DedupIndex.build(d, "doc_id", "text", path)
    assert(DedupIndex.isFresh(d, "doc_id", "text", path))
    // content change on one doc flips the epoch
    val changed = d.withColumn("text",
      when(col("doc_id") === 4L, lit("completely new words here"))
        .otherwise(col("text")))
    assert(!DedupIndex.isFresh(changed, "doc_id", "text", path))
    // an added doc flips it too
    assert(!DedupIndex.isFresh(
      d.unionByName(Seq((9999L, "tail doc")).toDF("doc_id", "text")),
      "doc_id", "text", path))
  }

  test("pairsWithDelta refuses a delta with duplicate ids (round-13: " +
       "no defined newest-wins order WITHIN one delta)") {
    val d = docs(11L, 60)
    val path = tmp("dupdelta")
    DedupIndex.build(d, "doc_id", "text", path)
    val delta = Seq((7L, "alpha beta gamma delta"),
                    (7L, "alpha beta gamma zeta"),
                    (500L, "eta theta iota kappa"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupIndex.pairsWithDelta(spark, path, delta, "doc_id", "text")
    }
    assert(e.getMessage.contains("multiple rows"),
      s"error must name the duplicate-id precondition: ${e.getMessage}")
    // and the collapsed form of the same delta goes through
    val ok = delta.groupBy("doc_id").agg(max("text").as("text"))
    DedupIndex.pairsWithDelta(spark, path, ok, "doc_id", "text").count()
  }

  test("pairsWithDelta == full rebuild over (stored \\ shadowed) + delta") {
    val main = docs(7L, 120)
    val path = tmp("delta")
    DedupIndex.build(main, "doc_id", "text", path)
    // delta: 30 new docs + re-deliveries of ids 0..9 with CHANGED text
    val delta = docs(11L, 30, idOffset = 1000L)
      .unionByName(docs(13L, 10).withColumn("text",
        concat(col("text"), lit(" deltamarker deltamarker deltamarker"))))
    val got = pairSet(DedupIndex.pairsWithDelta(
      spark, path, delta, "doc_id", "text"))
    val current = main.join(delta.select("doc_id"), Seq("doc_id"),
        "left_anti").unionByName(delta)
    val want = pairSet(
      Dedup.lshCandidatePairs(current, "doc_id", "text", 3, 16, 4))
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("build evaluates docs once: the epoch describes the stored signatures") {
    val n = 200
    val evals = spark.sparkContext.longAccumulator("dedup_build_evals")
    val pick = udf { (_: Long) =>
      evals.add(1)
      java.util.concurrent.ThreadLocalRandom.current().nextDouble() < 0.5
    }.asNondeterministic()
    val d = docs(17L, n).filter(pick(col("doc_id")))
    val path = tmp("once")
    DedupIndex.build(d, "doc_id", "text", path)
    assert(evals.value == n)
    val m = DedupIndex.manifest(spark, path).select("n_docs").head().getLong(0)
    assert(m == DedupIndex.signatures(spark, path).count())
  }

  /** Index A at a `trap:` path, then a rebuild over B (new ids, other
    * text) crashed at each of its renames: after each crash, a read
    * sees the whole of A or the whole of B. */
  test("a rebuild crashed at any rename leaves the whole old or the whole new index") {
    val a = docs(21L, 80)
    val b = docs(22L, 80, idOffset = 1000L)
    val wantA = pairSet(Dedup.lshCandidatePairs(a, "doc_id", "text", 3, 16, 4))
    val wantB = pairSet(Dedup.lshCandidatePairs(b, "doc_id", "text", 3, 16, 4))
    assert(wantA.nonEmpty && wantB.nonEmpty)
    val path = CrashPoints.trapPath(spark, "dedupidx_crash", "idx")
    CrashPoints.oneWriter(spark) {
      DedupIndex.build(a, "doc_id", "text", path)
      val points = CrashPoints.everyRename(
          DedupIndex.build(b, "doc_id", "text", path)) {
        val freshA = DedupIndex.isFresh(a, "doc_id", "text", path)
        val freshB = DedupIndex.isFresh(b, "doc_id", "text", path)
        assert(freshA != freshB, s"fresh on A: $freshA, on B: $freshB")
        assert(pairSet(DedupIndex.pairs(spark, path)) == (if (freshA) wantA else wantB))
        val ids = DedupIndex.signatures(spark, path).select("doc_id").as[Long].collect()
        assert(ids.length == 80 && ids.forall(id => (id < 1000L) == freshA))
        assert(CrashPoints.leftovers(spark, path).isEmpty,
          CrashPoints.leftovers(spark, path))
      }
      println(s"DedupIndex rebuild: $points crash points covered")
      assert(points > 2)
      assert(DedupIndex.isFresh(b, "doc_id", "text", path))
    }
  }

  test("a build whose publish a read rolled back throws; a re-run commits") {
    val a = docs(31L, 40)
    val b = docs(32L, 40, idOffset = 1000L)
    val path = CrashPoints.trapPath(spark, "dedupidx_commit", "idx")
    DedupIndex.build(a, "doc_id", "text", path)
    TrapFs.after = (src, dst) =>
      if (src.getName.endsWith("_graft_stage") && dst.getName == "idx") {
        TrapFs.reset()
        DedupIndex.pairs(spark, path)
      }
    val e = try intercept[IllegalStateException] {
      DedupIndex.build(b, "doc_id", "text", path)
    } finally TrapFs.reset()
    assert(e.getMessage.contains("Re-run the rebuild"), e.getMessage)
    assert(DedupIndex.isFresh(a, "doc_id", "text", path))
    DedupIndex.build(b, "doc_id", "text", path)
    assert(DedupIndex.isFresh(b, "doc_id", "text", path))
    assert(pairSet(DedupIndex.pairs(spark, path)) ==
      pairSet(Dedup.lshCandidatePairs(b, "doc_id", "text", 3, 16, 4)))
    assert(CrashPoints.leftovers(spark, path).isEmpty)
  }
}
