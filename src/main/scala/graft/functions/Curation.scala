package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** End-to-end corpus curation — the composed pipeline a pretraining
  * data pass actually runs, as ONE dataframe program: cheap quality
  * gates first (codegen'd scalar filters, no shuffle), then language
  * gating, then exact dedup (normalized fingerprint), then near-dup
  * clustering (MinHash-LSH candidates → connected components), keeping
  * the min-id representative of every duplicate group.
  *
  * Stage ordering is the cost gradient: each stage shrinks the corpus
  * before the next, more expensive one runs — at 100 TB the quality
  * gate drops the junk before any hashing, and LSH only sees the
  * already-exact-deduped survivors.
  *
  * Thresholds are integer-exact on purpose (token counts, `2·alpha ≥
  * len` instead of `alpha/len ≥ 0.5`) so the DuckDB oracle applies the
  * SAME cut with no float-boundary risk.
  */
object Curation {

  /** Returns surviving (doc_id, n_tokens) after all four gates.
    *
    * `candidatePairs` optionally supplies a PRECOMPUTED full-corpus
    * LSH candidate-pair relation (doc_a, doc_b) at the standard
    * (n=3, k=16, bands=4) setting. MinHash signatures and band
    * buckets are per-document, so the candidate pairs of any SUBSET
    * are exactly the full-corpus pairs with both endpoints in the
    * subset — restriction by two semi-joins, no re-hashing. At 100 TB
    * the pair relation is the dedup pass's stored artifact; curation
    * restricts it to its survivors instead of re-signing the corpus. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             lang: String, minTokens: Int,
             candidatePairs: Option[DataFrame] = None): DataFrame = {
    val text = col(textCol)
    // 1+2: quality + language gates (pure map-side)
    val gated = docs.select(col(idCol).as("doc_id"), text.as("text"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .filter(length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 2 >=
              length(col("text")))
      .filter(TextAnalysis.langId(col("text")) === lang)
    // 3: exact dedup on the normalized fingerprint (one window pass).
    // Materialized: three consumers follow (LSH pairs, the CC node
    // set, the final representative join), and this subtree ends in a
    // SHUFFLE (the fingerprint window) that would otherwise re-run
    // per consumer.
    val wFp = Window.partitionBy(TextAnalysis.fingerprint(col("text")))
    val exact = gated
      .withColumn("_keep", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("_keep"))
      .select("doc_id", "text", "n_tokens")
      .transform(graft.operators.CheckpointScope.pin(_))
    // 4: near-dup clustering over LSH candidates; keep each
    // component's min id. Shared pairs restrict to the survivors
    // (per-doc signatures make the restriction exact — see scaladoc).
    val survivors = exact.select(col("doc_id"))
    val pairs = candidatePairs.fold(
      Dedup.lshCandidatePairs(exact, "doc_id", "text", 3, 16, 4))(p =>
      p.join(survivors.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_semi")
        .join(survivors.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi"))
    val comps = ConnectedComponents.run(
      exact.select(col("doc_id").as("node")),
      pairs.select("doc_a", "doc_b"))
    exact.join(comps, exact("doc_id") === comps("node"))
      .filter(col("component") === col("doc_id"))
      .select("doc_id", "n_tokens")
  }
}
