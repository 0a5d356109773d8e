package graft

/** Mutable fixtures (stores, indexes, media corpora) live under one
  * scratch root resolved from the working directory, and each
  * application gets its own paths under it. */
class ScratchPathSpec extends SparkSpec {

  test("two application ids get disjoint store and corpus paths under the working directory") {
    val root = new java.io.File("target/graft_fixtures").getAbsolutePath
    assert(QueryHelpers.ScratchRoot == root)
    val dir = "/data/sf0.01"
    def paths(app: String) = Seq("dedup_idx", "impact_idx", "impact_main", "incr_store")
      .map(QueryHelpers.scratchPath(app, dir, _)) ++
      Seq(QueryHelpers.mediaCorpusPath(app), QueryHelpers.pngCorpusPath(app))
    val a = paths("local-1760000000000")
    val b = paths("local-1760000000001")
    assert(a.distinct.size == a.size && b.distinct.size == b.size)
    assert(a.intersect(b).isEmpty, s"$a shares a path with $b")
    (a ++ b).foreach(p => assert(p.startsWith(root + "/"), p))
  }

  test("the session's stores and the media oracle use the running application's paths") {
    val app = spark.sparkContext.applicationId
    assert(QueryHelpers.scratchPathFor(spark, "/d", "incr_store") ==
      QueryHelpers.scratchPath(app, "/d", "incr_store"))
    assert(QueryHelpers.currentAppId == app)
    val oracle = SparkEntry.oracleSql
    assert(oracle("q_media_decode").contains(QueryHelpers.mediaCorpusPath(app)))
    assert(oracle("q_media_png_decode").contains(QueryHelpers.pngCorpusPath(app)))
  }
}
