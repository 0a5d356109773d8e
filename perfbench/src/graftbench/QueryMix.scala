package graftbench

import graft.operators.CheckpointScope

/** `query_mix`: a closed loop with one client over a fixed, registry-
  * stratified set of registered queries on the read-only fixture
  * tables. Each round runs every query of the set once, in an order
  * drawn from the seed; a query's latency is `fn(spark, dir)` plus
  * `.count()`, and its row count must equal the DuckDB oracle's. */
final class QueryMix(ctx: Ctx, oracle: Map[String, Long]) extends Workload {
  private val spark = ctx.spark
  private val fixture = s"${ctx.root}/${QueryMix.Fixture}"
  private val fns = graft.SparkEntry.queries
  private var dir = fixture

  def roundSize: Int = QueryMix.Set.size

  /** The registry's shared artifacts (postings, k-means models, ...)
    * are cached per (session, directory string). Each set-up round
    * names the fixture directory by a different but equivalent path,
    * so every round rebuilds those artifacts from scratch. */
  def setupRound(round: Int): Option[String] = {
    dir = fixture + "/." * round
    QueryMix.Set.foreach { q =>
      try CheckpointScope.scoped { fns.get(q).foreach(_(spark, dir).count()) }
      catch { case _: Exception => () } // reported by the timed operation
    }
    None
  }

  private def order(cycle: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + cycle).shuffle(QueryMix.Set)

  def op(i: Int): OpResult = {
    val q = order(i / roundSize)(i % roundSize)
    val (n, lat, cpu) = Measure(CheckpointScope.scoped {
      val df = ctx.span("construct") { fns(q)(spark, dir) }
      ctx.span("count") { df.count() }
    })
    n match {
      case Left(err) => OpResult(q, lat, cpu, ok = false, note = err)
      case Right(rows) =>
        val want = oracle.get(q)
        OpResult(q, lat, cpu, want.contains(rows),
          note = if (want.contains(rows)) "" else s"rows=$rows oracle=${want.getOrElse("missing")}")
    }
  }

  def report(): Map[String, Any] = Json.obj(
    "fixture" -> QueryMix.Fixture,
    "queries" -> QueryMix.Set,
    "registries" -> QueryMix.Set.size,
    "fixture_bytes" -> ctx.dirBytes(fixture)).toMap

  def selfTest(): Seq[(String, Boolean)] = Seq.empty
}

object QueryMix {
  val Fixture = "perfbench/fixtures/sf0.01"

  /** One query from each of the 15 registries, drawn once at random
    * from the queries that read only the fixture tables (the ones that
    * write stores, indexes or media corpora to fixed scratch paths are
    * left out). Three draws that rebuild a session-cached model
    * (k-means, BPE, embedding pairs) were then swapped for queries of
    * the same registry that do not, so that three set-up rounds fit the
    * run; the co-occurrence graph behind `q_degree_hist` is the one
    * shared artifact each round rebuilds. The tail is k-NN join,
    * semantic dedup and the as-of join. */
  val Set: Seq[String] = Seq(
    "q_discount_response", "q_window_rank", "q_interleave", "q_semantic_dedup",
    "q_skew_report", "q_degree_hist", "q_count_gate", "q_decontaminate",
    "q_knn_join", "q_hll_groups", "q_rater_kappa", "q_asof_join",
    "q_peak_detect", "q_lag_features", "q_pmi_collocations")
}
