package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is an operator from SURVEY.md §2 (or an additive
  * LLM-pipeline operator) expressed Spark-first; `oracleSql` holds the
  * DuckDB-dialect equivalent the driver hash-compares against. Column
  * names are aliased identically on both sides.
  *
  * The suite itself lives in per-domain registry objects
  * (src/main/scala/graft/registry/) merged here — a 238-entry map in
  * one file was the repo's worst maintainability risk (one stray edit
  * could take out the whole suite). [[RegistrySpec]] guards the merge:
  * no duplicate names across registries, and queries/oracleSql keys
  * stay in sync.
  */
object SparkEntry {

  /** Flagship: the full two-phase household-retention pipeline on
    * sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    QueryHelpers.retentionFlagship(spark, "/root/testdata/sf0.001")

  // a def: MediaQueries renders its oracle for the running application
  private def registries: Seq[(Seq[(String, (SparkSession, String) => DataFrame)],
                               Seq[(String, String)])] = Seq(
    (RetentionQueries.queries, RetentionQueries.oracleSql), (CoreQueries.queries, CoreQueries.oracleSql), (GovernanceQueries.queries, GovernanceQueries.oracleSql), (TemporalAQueries.queries, TemporalAQueries.oracleSql), (TemporalBQueries.queries, TemporalBQueries.oracleSql), (TemporalCQueries.queries, TemporalCQueries.oracleSql),
    (DedupQueries.queries, DedupQueries.oracleSql), (SimilarityQueries.queries, SimilarityQueries.oracleSql), (TextQueries.queries, TextQueries.oracleSql), (RetrievalQueries.queries, RetrievalQueries.oracleSql), (CorpusQueries.queries, CorpusQueries.oracleSql),
    (GraphQueries.queries, GraphQueries.oracleSql), (SketchQueries.queries, SketchQueries.oracleSql), (StatsQueries.queries, StatsQueries.oracleSql), (BusinessQueries.queries, BusinessQueries.oracleSql), (MediaQueries.queries, MediaQueries.oracleSql),
  )

  /** All registered query name-order pairs, duplicate-checked lazily
    * (a duplicate key would silently shadow in toMap). */
  private lazy val querySeq = {
    val all = registries.flatMap(_._1)
    require(all.map(_._1).distinct.size == all.size,
      "duplicate query name across registries: " +
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(", "))
    all
  }
  private def oracleSeq = {
    val all = registries.flatMap(_._2)
    require(all.map(_._1).distinct.size == all.size,
      "duplicate oracle name across registries: " +
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(", "))
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = querySeq.toMap
  def oracleSql: Map[String, String] = oracleSeq.toMap
}
