package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH dedup index — the stored-artifact form of the
  * candidate-pair relation (the [[ImpactIndex]] pattern applied to
  * dedup): build ONCE to parquet, every consumer reads.
  *
  * The round-11 sf100 probe exposed the gap this closes: the shared
  * in-session LSH pair relation (`QueryHelpers.lshPairsFor`) cost
  * 54.8 s to build cold over 5M docs and was paid PER SESSION, while
  * every consumer (near-dup clusters, survivorship election, leak-free
  * splits, curation, the contamination matrix) assumes it warm. At
  * 100 TB the signature pass over the corpus is a nightly index job,
  * not a query-time stage.
  *
  * Layout under `path`:
  *   - `signatures/` — one row per doc: (doc_id, sigs ARRAY<STRING>,
  *     index = band). The SAME rows the incremental store
  *     ([[graft.functions.Dedup.incrementalNearDup]]) holds — the
  *     bucketing state, corpus-doc-count-sized, never corpus text.
  *   - `pairs/` — the distinct candidate pairs (doc_a < doc_b), derived
  *     from the signatures AS WRITTEN (re-evaluating the signature plan
  *     for the pair join could sign a nondeterministic input twice —
  *     the ImpactIndex consistency rule).
  *   - `manifest/` — one row: (n_docs, corpus_sig, n, k, bands). The
  *     build EPOCH: corpus_sig is the order-independent
  *     bit_xor(xxhash64(doc_id, text)) fingerprint of exactly the
  *     corpus the pairs were computed from.
  *
  * Staleness / epoch contract (the [[ImpactIndex.searchWithDelta]]
  * semantics): stored pairs answer FOR THE BUILD EPOCH. A consumer
  * holding newer documents either (a) verifies the epoch with
  * [[isFresh]] and rebuilds nightly, or (b) runs [[pairsWithDelta]],
  * which signs ONLY the delta and bucket-joins it against the stored
  * signatures — delta-proportional work, with delta docs SHADOWING
  * stored docs of the same id (newest segment wins, the KeyedUpsert
  * re-delivery rule): stored pairs touching a shadowed id are dropped
  * and re-derived under the doc's new signatures. The union equals a
  * full rebuild over (stored ∖ shadowed) ∪ delta — DedupIndexSpec pins
  * the equivalence. The next [[build]] folds deltas in and resets the
  * epoch.
  *
  * Publish contract ([[Commit.publish]]): a reader sees the whole
  * previous build or the whole new one, never one build's pairs beside
  * another's manifest. Single writer, and no reader during a build.
  */
object DedupIndex {

  /** Build the index at `path` from the corpus — the nightly job.
    * `docs` is evaluated once: the epoch is observed on the signature
    * write, so it describes the evaluation the signatures came from. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            n: Int = 3, k: Int = 16, bands: Int = 4): Unit = {
    val spark = docs.sparkSession
    Commit.rebuild(spark, path) { stage =>
      val epoch = new Observation()
      val (nDocs, sig) = epochOf(idCol, textCol)
      graft.functions.Dedup.docBandSignatures(docs.observe(epoch, nDocs, sig),
          idCol, textCol, n, k, bands)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/signatures")
      val written = spark.read.parquet(s"$stage/signatures")
      pairsOf(explodeBands(written), explodeBands(written))
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/pairs")
      val m = epoch.get
      spark.range(0, 1, 1, 1).select(lit(m("n_docs")).as("n_docs"),
          lit(m("corpus_sig")).cast("long").as("corpus_sig"),
          lit(n).as("n"), lit(k).as("k"), lit(bands).as("bands"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/manifest")
    }
  }

  /** The stored candidate-pair relation (doc_a < doc_b, distinct). */
  def pairs(spark: SparkSession, path: String): DataFrame =
    Commit.read(spark, path, "pairs")

  /** The stored per-doc band signatures. */
  def signatures(spark: SparkSession, path: String): DataFrame =
    Commit.read(spark, path, "signatures")

  /** The build manifest: (n_docs, corpus_sig, n, k, bands) — 1 row. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    Commit.read(spark, path, "manifest")

  /** Epoch check: does the index at `path` describe exactly `docs`?
    * One aggregate over (id, text) vs the stored fingerprint — cheap
    * relative to a rebuild, and the freshness gate a consumer runs
    * before trusting stored pairs. */
  def isFresh(docs: DataFrame, idCol: String, textCol: String,
              path: String): Boolean = {
    val m = manifest(docs.sparkSession, path)
      .select("n_docs", "corpus_sig").head()
    val (nDocs, sig) = epochOf(idCol, textCol)
    val c = docs.agg(nDocs, sig).head()
    m.getLong(0) == c.getLong(0) && m.getLong(1) == c.getLong(1)
  }

  /** Candidate pairs for the CURRENT corpus = (stored epoch) + `delta`,
    * with delta shadowing stored ids — WITHOUT rebuilding: signs only
    * the delta, bucket-joins it against stored signatures, and drops
    * stored pairs touching shadowed ids. Equals [[build]]+[[pairs]]
    * over (stored ∖ shadowed ids) ∪ delta (spec-pinned). */
  def pairsWithDelta(spark: SparkSession, path: String, delta: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    // PRECONDITION (round-13, ADVICE): one row per id in the delta.
    // Shadowing resolves delta-vs-STORED conflicts (newest segment
    // wins), but two rows for one id WITHIN the delta have no defined
    // order — both texts would be signed and stale pairs emitted,
    // silently breaking the full-rebuild equivalence. There is no
    // ordering column here to pick "newest" from, so the caller must
    // collapse re-deliveries first; fail loudly instead of guessing.
    // One delta-proportional aggregate — cheap next to the signing.
    require(delta.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).isEmpty,
      s"pairsWithDelta: delta holds multiple rows for one $idCol — " +
        "collapse re-deliveries to the newest row per id before calling")
    val m = manifest(spark, path).select("n", "k", "bands").head()
    val deltaSigs = graft.operators.CheckpointScope.pin(
      graft.functions.Dedup.docBandSignatures(
        delta, idCol, textCol, m.getInt(0), m.getInt(1), m.getInt(2)))
    val deltaIds = deltaSigs.select(col("doc_id")).distinct()
    val stored = signatures(spark, path)
      .join(deltaIds, Seq("doc_id"), "left_anti")
    val deltaB = explodeBands(deltaSigs)
    val allB = explodeBands(stored).unionByName(deltaB)
    val newPairs = deltaB.as("a").join(allB.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val keptStored = pairs(spark, path)
      .join(deltaIds.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_anti")
      .join(deltaIds.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_anti")
      .select("doc_a", "doc_b")
    keptStored.unionByName(newPairs).distinct()
  }

  /** The epoch: row count and an order-independent, ANSI-safe (xor
    * never overflows) fingerprint over id AND text — a re-delivered doc
    * with changed content changes it. */
  private def epochOf(idCol: String, textCol: String): (Column, Column) =
    (count(lit(1)).as("n_docs"),
     bit_xor(xxhash64(col(idCol), col(textCol))).as("corpus_sig"))

  private def explodeBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "sig")))

  private def pairsOf(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
}
