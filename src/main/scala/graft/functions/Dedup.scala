package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators for training-data curation
  * (additive beyond the reference): exact, normalized-fingerprint,
  * n-gram Jaccard, and MinHash+LSH.
  *
  * Scale design: every operator is expressed as shuffle-bounded
  * relational ops — shingle/band inverted indexes joined on their key
  * — never an O(n²) cross join. At 100 TB the candidate space is
  * bounded by the index key's selectivity (band buckets for MinHash),
  * which is the standard web-scale dedup shape (shingle→minhash→band→
  * bucket-join).
  */
object Dedup {

  /** Exact-duplicate groups keyed on md5 of the raw text. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, shingle) inverted index over distinct word n-grams. */
  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
                TextAnalysis.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("s"))

  /** All pairs with n-gram Jaccard ≥ threshold, via AllPairs/PPJoin
    * prefix filtering (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    * order every document's shingle set by ascending global document
    * frequency; a pair with Jaccard ≥ t MUST share a shingle inside
    * each side's first |A|−⌈t·|A|⌉+1 shingles, so only those prefixes
    * generate candidates (on a 64-bit shingle hash, not the string).
    * Exact |A∩B| is then computed per surviving candidate with
    * `array_intersect` on the full sets.
    *
    * Candidate generation runs INSIDE each prefix-token bucket's own
    * task (the [[simhashPairs]] kernel shape), with each posting
    * carrying its doc's h-sorted prefix hashes + their df-order
    * positions (≤ ⌈(1−t)·|A|⌉+1 longs/ints):
    *
    *   - FIRST-SHARED-TOKEN emission: a pair is emitted only from the
    *     bucket of the minimum shared prefix hash, so the candidate
    *     set is exact-distinct BY CONSTRUCTION. The sf10 sweep
    *     measured 1.07e9 candidate-pair OCCURRENCES for ~25M distinct
    *     pairs on a replica-heavy corpus — the former join+distinct
    *     formulation sorted all 1e9 and filled 70 GB of spill.
    *   - POSITIONAL + COUNT filter in-task (PPJoin): with k = |shared
    *     prefix tokens| and h* their df-order maximum (position p_a in
    *     a, p_b in b), every shared token globally ≤ h* lies in BOTH
    *     prefixes (h* does, and prefixes are downward-closed in the
    *     global (df, h) order), so
    *       |A∩B| ≤ k + min(|A|−p_a, |B|−p_b);
    *     the pair survives only if that bound reaches
    *     ⌈t/(1+t)·(|A|+|B|)⌉ — the overlap a Jaccard of t requires —
    *     and |A|,|B| pass the t·|A| ≤ |B| ≤ |A|/t length filter.
    *     Low-overlap replica clusters (the quadratic candidate mass)
    *     die here without ever touching the full sets.
    *
    * Same output as the naive inverted-index join; the verification
    * join sees only filter survivors. Per-bucket work is quadratic —
    * `maxBucket` applies the CoOccurrence loud-failure contract to hub
    * prefix tokens.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxBucket: Int = 100000): DataFrame = {
    // The shingle STRING never leaves the scan: each doc's distinct
    // shingles hash to 60-bit md5 integers immediately (md5-60 — the
    // cross-engine hash, so the DuckDB oracle verifies over the SAME
    // hashed sets), and both the candidate join and the exact
    // verification intersect run on 8-byte longs. The hashed set table
    // is materialized ONCE for its three consumers — with ~25-byte
    // strings that trade lost (the round-5 measurement that left this
    // subtree uncached); with packed longs it wins outright (sf1:
    // 39.7 → ~13 s, dominated before by re-shingling + string-array
    // shuffles into the verification joins).
    val sets = graft.operators.LoopCheckpoint(
      docs.select(col(idCol).as("doc_id"),
          transform(array_distinct(TextAnalysis.shingles(col(textCol), n)),
                    s => md5Hash60(s)).as("sh"))
        .filter(size(col("sh")) > 0))
    val ex = sets.select(col("doc_id"), size(col("sh")).as("sz"),
                         explode(col("sh")).as("h"))
    // document frequency via a count window over the same h-shuffle the
    // prefix construction needs anyway — one stage cheaper than a
    // separate groupBy + join-back of the frequency table
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "h")
    val prefix = ex.withColumn("df", count(lit(1)).over(wdf))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("doc_id", "sz", "h", "rn")
    // per-doc prefix arrays, h-sorted with parallel df-order positions
    // (array_sort on struct(h, rn) orders by h; h values are distinct
    // within a doc) — each posting carries its doc's whole prefix so
    // the bucket kernel can canonicalize and filter pairs in-task
    val docPrefix = prefix.groupBy("doc_id", "sz")
      .agg(array_sort(collect_list(struct(col("h"), col("rn")))).as("pr"))
      .select(col("doc_id"), col("sz"),
              transform(col("pr"), x => x("h")).as("hs"),
              transform(col("pr"), x => x("rn").cast("int")).as("ps"))
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val posting = docPrefix
      .select(explode(col("hs")).as("h"), col("doc_id").cast("long"),
              col("sz").cast("int"), col("hs"), col("ps"))
      .as[(Long, Long, Int, Array[Long], Array[Int])]
    val t = threshold
    val cand = posting.groupByKey(_._1)
      .flatMapGroups { (h: Long, it: Iterator[(Long, Long, Int, Array[Long], Array[Int])]) =>
        val a = it.map(r => (r._2, r._3, r._4, r._5)).toArray
        if (a.length > maxBucket)
          throw new IllegalStateException(
            s"ngramJaccardPairs: prefix token $h has ${a.length} docs " +
            s"(max $maxBucket); strip boilerplate or raise the shingle " +
            "width before pairing")
        val m = a.length
        // LAZY double loop (the simhashPairs contract): sorted-merge
        // each pair's h-sorted prefixes — the FIRST match is the
        // minimum shared hash (emit only when it equals this bucket's
        // key: exact-distinct by construction, and an early exit for
        // every other bucket the pair collides in); completing the
        // merge yields k (shared count) and the df-order positions of
        // the maximum shared hash for the positional bound.
        (0 until m - 1).iterator.flatMap { i =>
          val (idI, szI, hsI, psI) = a(i)
          (i + 1 until m).iterator.flatMap { j =>
            val (idJ, szJ, hsJ, psJ) = a(j)
            // length filter first: t·|A| ≤ |B| ≤ |A|/t (cheapest)
            val lo = math.min(szI, szJ); val hi = math.max(szI, szJ)
            if (idI == idJ || lo < t * hi) None
            else {
              var x = 0; var y = 0
              var minShared = Long.MinValue; var k = 0
              var pmaxI = 0; var pmaxJ = 0
              var abort = false
              while (!abort && x < hsI.length && y < hsJ.length) {
                val hx = hsI(x); val hy = hsJ(y)
                if (hx == hy) {
                  if (k == 0) {
                    minShared = hx
                    // not this pair's canonical bucket — stop now
                    if (minShared != h) abort = true
                  }
                  if (!abort) {
                    k += 1
                    if (psI(x) > pmaxI) pmaxI = psI(x)
                    if (psJ(y) > pmaxJ) pmaxJ = psJ(y)
                    x += 1; y += 1
                  }
                } else if (hx < hy) x += 1 else y += 1
              }
              if (abort || k == 0) None
              else {
                // PPJoin positional+count bound vs the required overlap
                val alpha = math.ceil(t / (1 + t) * (szI + szJ)).toInt
                val ubound = k + math.min(szI - pmaxI, szJ - pmaxJ)
                if (ubound < alpha) None
                else if (idI < idJ) Some((idI, idJ)) else Some((idJ, idI))
              }
            }
          }
        }
      }
      .toDF("doc_a", "doc_b")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
              size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
              size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
      .select(col("doc_a"), col("doc_b"),
              round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6)
                .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact substring-duplication SPANS — the output shape of
    * substring-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better": cut verbatim repeated spans, not
    * whole documents). An anchor is a positional `k`-token gram; it is
    * duplicated when the same gram occurs anywhere else in the corpus
    * (another doc, or the same doc again). Per document, overlapping/
    * adjacent duplicated anchors merge into maximal spans (fixed-width
    * intervals sorted by start: a new span starts where the position
    * gap exceeds k−1 — the gaps-and-islands collapse the retention
    * pipeline is built on), and the surface reports span count and
    * duplicated-token coverage — exactly what a span-cutting pass
    * consumes.
    *
    * Scale shape: positional grams hash to 8 bytes before the df
    * shuffle (the string never crosses an exchange; md5-60 — the
    * cross-engine hash the oracle reproduces exactly, so both engines
    * agree even on hypothetical collisions); duplication is a count
    * window over the gram-hash key; the span merge is one window per
    * document over its ANCHOR positions only. No pair join at all —
    * cost is linear in corpus tokens. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
        filter(split(TextAnalysis.normalized(col(textCol)), " "),
               t => t =!= "").as("t"))
      .filter(size(col("t")) >= k)
    val anchors = toks.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(t) - ${k - 1}), " +
          s"i -> array_join(slice(t, i, $k), ' '))"))
          .as(Seq("p", "g")))
      .select(col("doc_id"), col("p").cast("long").as("p"),
              md5Hash60(col("g")).as("h"))
    val wdf = Window.partitionBy("h")
    val dup = anchors
      .withColumn("occ", count(lit(1)).over(wdf))
      .filter(col("occ") > 1)
      .select("doc_id", "p")
    val wp = Window.partitionBy("doc_id").orderBy("p")
    val spans = dup
      .withColumn("prev", lag(col("p"), 1).over(wp))
      .withColumn("brk",
        when(col("prev").isNull || col("p") - col("prev") > (k - 1), 1L)
          .otherwise(0L))
      .withColumn("span", sum(col("brk")).over(
        wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span")
      .agg((max("p") - min("p") + k).as("span_tokens"))
    val perDoc = anchors.groupBy("doc_id")
      .agg(count(lit(1)).as("n_anchors"))
    perDoc.join(
        spans.groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
               sum("span_tokens").as("dup_tokens")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_anchors"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Directed n-gram containment pairs: C(A→B) = |A∩B| / |A| over
    * word-n-gram sets — the asymmetric near-dup measure that catches
    * what Jaccard misses: a short document quoted wholesale inside a
    * long one scores containment ≈ 1 while its Jaccard stays tiny
    * (|A∩B|/|A∪B| is diluted by the long side). The pretraining use is
    * subset/quote detection: drop docs whose content is already inside
    * another kept doc.
    *
    * Grams with document frequency > `maxDf` are dropped before
    * pairing ("stopgrams"): boilerplate n-grams appear in thousands of
    * docs and would both (a) fan out df² candidate pairs per gram —
    * the quadratic hub blow-up that kills posting joins at scale — and
    * (b) make every template-sharing pair look like containment.
    * Containment is then measured over each doc's REMAINING (rare)
    * grams — sizes and intersections count post-filter grams, so the
    * DuckDB oracle reproduces the exact same integers.
    *
    * Scale shape (re-measured at sf10 this round, where the first
    * formulation was the sweep leader at 55.1 s): the co-occurrence
    * mass here is 104M pair OCCURRENCES over 94.5M DISTINCT pairs —
    * pairs share ~1.1 grams on average — so neither first-shared-gram
    * dedup nor an in-task emission kernel helps (a flatMapGroups
    * kernel was measured SLOWER, 87 s: it pays boxed-iterator
    * emission per occurrence for near-zero candidate reduction, where
    * the join stays in whole-stage codegen). What does help, each
    * measured at sf10:
    *   - pin the rare-gram relation (its shingle+md5+window subtree
    *     fed three consumers and recomputed for each);
    *   - join UNORDERED (`<`, not `≠`): half the join output and half
    *     the pair-aggregate input — the direction expansion happens
    *     AFTER the count, on aggregated rows;
    *   - filter ppm BEFORE expanding directions: both sides' sizes
    *     join onto the unordered counts, each direction's threshold
    *     test runs in one projection, and only surviving directions
    *     become rows (output-sized, not candidate-sized).
    * Everything stays declarative — whole-stage codegen end to end,
    * AQE free to split skewed grams. 55.1 → 31.8 s at sf10 (min-of-2),
    * identical rows; the residual bulk is the irreducible 104M-row
    * join output + the 94.5M-group count, both data properties
    * (Σ C(df,2) with this fixture's df distribution), linear in gram
    * volume with the C(maxDf,2)=1225 per-gram cap.
    * [[containmentPairsJoin]] keeps the original form for the
    * differential spec (a SHUFFLE_HASH hint on the self-join and an
    * in-task emission kernel were both measured and lost — 33.3 s and
    * 87 s). Output: (doc_a, doc_b, inter, sz_a, cont_ppm) with
    * cont_ppm = inter·10⁶ div sz_a ≥ `thresholdPpm`, both directions
    * emitted.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, thresholdPpm: Long, maxDf: Int): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(array_distinct(
        TextAnalysis.shingles(col(textCol), n))).as("g"))
      .select(col("doc_id"), md5Hash60(col("g")).as("gh"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // each rare row carries its doc's rare-gram count: the sizes ride
    // THROUGH the self-join into the pair aggregate (constant per key,
    // so first() is exact) instead of joining a doc-count-sized size
    // table back onto 94.5M aggregated pairs — at 100 TB that side is
    // corpus-doc-sized, not broadcastable, and the two post-agg
    // sort-merge joins it forced were half the operator's sf10 cost
    // one-shot pin: consumed by the two self-join sides only — never
    // loop-carried, so it must not pay a reliable HDFS write of the
    // corpus-scale rare-gram relation per invocation
    val rare = graft.operators.CheckpointScope.pin(
      grams.withColumn("df", count(lit(1)).over(wg))
        .filter(col("df") <= maxDf)
        .withColumn("sz", count(lit(1)).over(wd))
        .select("doc_id", "gh", "sz"))
    val paired = rare.as("a").join(rare.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.sz")).as("sz_a"), first(col("b.sz")).as("sz_b"))
    val thr = lit(thresholdPpm)
    paired
      .select(explode(array(
        when(expr("inter * 1000000 div sz_a") >= thr,
          struct(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
            expr("inter * 1000000 div sz_a").as("cont_ppm"))),
        when(expr("inter * 1000000 div sz_b") >= thr,
          struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
            col("inter"), col("sz_b").as("sz_a"),
            expr("inter * 1000000 div sz_b").as("cont_ppm"))))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.doc_a").as("doc_a"), col("r.doc_b").as("doc_b"),
        col("r.inter").as("inter"), col("r.sz_a").as("sz_a"),
        col("r.cont_ppm").as("cont_ppm"))
  }

  /** The pre-kernel join formulation of [[containmentPairs]] — df via
    * a count window, capped per-gram pairs materialized through a
    * self-join, sizes joined back. Kept (package-private) as the
    * differential baseline [[ContainmentKernelSpec]] pins the kernel
    * against; same output by construction. */
  private[graft] def containmentPairsJoin(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, thresholdPpm: Long, maxDf: Int): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(array_distinct(
        TextAnalysis.shingles(col(textCol), n))).as("g"))
      .select(col("doc_id"), md5Hash60(col("g")).as("gh"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val rare = graft.operators.CheckpointScope.pin(
      grams.withColumn("df", count(lit(1)).over(wg))
      .filter(col("df") <= maxDf)
      .select("doc_id", "gh"))
    val sz = rare.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = rare.as("a").join(rare.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .withColumn("cont_ppm", expr("inter * 1000000 div sz_a"))
      .filter(col("cont_ppm") >= thresholdPpm)
  }

  /** Chunk-granularity duplication stats: split each document into
    * consecutive `chunkTokens`-token passages, fingerprint each, and
    * report per document how many of its chunks occur more than once
    * corpus-wide — the passage-dedup signal (boilerplate headers,
    * templated spans) that document-level dedup misses entirely.
    *
    * Scale shape: chunking is generator work (rows multiply map-side),
    * the occurrence count is one hash shuffle keyed by chunk hash, and
    * the per-doc rollup rides a second keyed by doc — no self-join,
    * no arrays carried through shuffles (only 128-bit hashes).
    */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int): DataFrame = {
    val n = chunkTokens
    val chunks = docs
      .select(col(idCol).as("doc_id"),
              split(TextAnalysis.normalized(col(textCol)), " ").as("t"))
      .filter(size(col("t")) > 0 && element_at(col("t"), 1) =!= "")
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast(ceil(size(t) / $n.0) as int) - 1), " +
        s"i -> concat_ws(' ', slice(t, i * $n + 1, $n)))")).as("c"))
      .select(col("doc_id"), md5(col("c")).as("h"))
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    chunks.withColumn("cnt", count(lit(1)).over(wh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           count(when(col("cnt") > 1, 1)).as("n_dup_chunks"))
  }

  /** Cross-document n-gram duplication stats — the corpus-level
    * duplication signal (Gopher/RefinedWeb style): for each document,
    * how many of its DISTINCT word n-grams also occur in at least one
    * OTHER document, plus the integer-exact parts-per-million share.
    * Within-doc repetition ([[TextAnalysis.repetitionStats]]) misses
    * boilerplate shared ACROSS documents; this is the metric a
    * curation pass thresholds to drop template-heavy pages.
    *
    * Scale shape: grams are distinct per doc before anything moves, so
    * the window count over the gram hash IS the document frequency;
    * one shuffle keyed by 8-byte gram hash (strings dropped first, the
    * PPJoin trick), one rollup keyed by doc — no self-join.
    */
  def crossDocDupStats(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(array_distinct(
        TextAnalysis.shingles(col(textCol), n))).as("g"))
      .select(col("doc_id"), md5Hash60(col("g")).as("gh"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val stats = grams
      .withColumn("df", count(lit(1)).over(wg))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           count(when(col("df") > 1, 1)).as("n_shared_grams"))
      .withColumn("shared_ppm",
        expr("n_shared_grams * 1000000 div n_grams"))
    docs.select(col(idCol).as("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("shared_ppm"), lit(0L)).as("shared_ppm"))
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** Mersenne prime 2^31−1: keeps a*x+b inside 63 bits (no ANSI
    * overflow) while remaining a decent universal-hash modulus. */
  val MinhashPrime: Long = 2147483647L

  /** 60-bit integer hash of a string via md5 — chosen because DuckDB
    * can reproduce it exactly (('0x'||substr(md5(s),1,15))::BIGINT),
    * making the whole MinHash pipeline oracle-checkable. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Permutation constants, LCG-derived so both engines can inline the
    * same literals: a_j, b_j for j ∈ [0, k). */
  def perms(k: Int): Seq[(Long, Long)] =
    (0 until k).map { j =>
      ((1103515245L * j + 12345L) % MinhashPrime,
       (69069L * j + 1L) % MinhashPrime)
    }

  /** MinHash signatures, wide: ONE aggregation pass computing all k
    * permutation minima as columns (mh0..mh{k-1}) — no k× row
    * explosion, and the min() partial-aggregates map-side, so the
    * shuffle carries one k-column row per doc instead of k×|shingles|
    * rows (this rewrite took the sf0.1 LSH query from 11.2s to ~2s;
    * at 100 TB the exploded form would shuffle 16× the shingle set).
    */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int): DataFrame = {
    val ex = shingleIndex(docs, idCol, textCol, n)
      .withColumn("x", md5Hash60(col("s")) % MinhashPrime)
    val aggs = perms(k).zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("x") + lit(b)) % MinhashPrime).as(s"mh$j")
    }
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: band the k-column signature into `bands`
    * groups of k/bands columns, bucket on the concatenated band
    * signature, and emit distinct pairs sharing ≥1 bucket. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val sig = minhashSignature(docs, idCol, textCol, n, k)
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band"),
             concat_ws(",", (i * r until (i + 1) * r)
               .map(j => col(s"mh$j").cast("string")): _*).as("sig"))
    }
    val bandSig = sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    bandSig.as("a").join(bandSig.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Per-row (doc_id, band, sig) LSH bucket rows — the streaming-safe,
    * aggregation-free formulation of [[lshCandidatePairs]]'s bucketing
    * stage. Every signature is computed INSIDE one row from the doc's
    * shingle-hash array (`aggregate` higher-order min per permutation),
    * so it runs map-side on a STREAMING DataFrame with no groupBy
    * state; batch-side it produces exactly the same buckets as the
    * wide-aggregation path (differentially spec-tested — same hash,
    * same permutation constants, min over the same distinct set).
    *
    * The wide-agg path stays the BATCH default: its per-doc shuffle row
    * is k longs either way, and the hash agg reuses the shingle-index
    * shape other dedup stages share. This one exists for ingest-time
    * (streaming) bucketing, where an aggregation would force state the
    * per-row form doesn't need. */
  def bandSignatureRows(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val sh = array_distinct(TextAnalysis.shingles(col(textCol), n))
    // hash once per shingle (md5 is the expensive part), THEN fold the
    // small long array once per permutation
    val xs = transform(sh, s => md5Hash60(s) % MinhashPrime)
    val mhs = perms(k).map { case (a, b) =>
      aggregate(col("_xs"), lit(MinhashPrime),
        (acc, x) => least(acc, (lit(a) * x + lit(b)) % MinhashPrime))
    }
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band"),
             concat_ws(",", (i * r until (i + 1) * r)
               .map(j => mhs(j).cast("string")): _*).as("sig"))
    }
    docs.select(col(idCol).as("doc_id"), xs.as("_xs"))
      .filter(size(col("_xs")) > 0)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** One row per document with its `bands` band signatures as an
    * array (index = band) — the storable form of the LSH bucketing
    * state: k longs folded to `bands` strings, keyed by doc, exactly
    * what a persisted signature store holds between deliveries. */
  def docBandSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    minhashSignature(docs, idCol, textCol, n, k)
      .select(col("doc_id"), array((0 until bands).map { i =>
        concat_ws(",", (i * r until (i + 1) * r)
          .map(j => col(s"mh$j").cast("string")): _*)
      }: _*).as("sigs"))
  }

  private def explodeBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "sig")))

  /** Batch CROSS-RUN incremental near-dedup — the nightly-delivery
    * shape: dedup today's delivery against every previous delivery
    * WITHOUT rescanning old text. The persisted state is the per-doc
    * band-signature table ([[docBandSignatures]]) kept in a
    * [[graft.sources.KeyedUpsert]] store; each call
    *
    *   1. signs the delta (one pass over delta text only),
    *   2. bucket-joins delta signatures against store+delta signatures
    *      (equi-join on (band, sig) — never all-pairs, and the store
    *      side is signatures, not documents: bytes ∝ corpus doc count,
    *      not corpus text),
    *   3. EAGERLY materializes the new candidate pairs, then
    *   4. upserts the delta signatures into the store (re-delivered
    *      doc_ids replace their signatures — upsert semantics, so a
    *      corrected document is re-bucketed under its new text).
    *
    * Pair emission is exactly-once across deliveries of distinct
    * doc_ids: a pair appears in the delivery where its LATER member
    * arrives (a RE-delivered doc re-emits its pairs under its new
    * signatures — deliberate: its candidate set may have changed);
    * (both-new pairs
    * normalize via least/greatest + distinct), so the union of emitted
    * pairs over all deliveries equals [[lshCandidatePairs]] over the
    * full corpus — the delta-vs-union equivalence the oracle query and
    * [[IncrementalDedupSpec]] pin.
    *
    * Materialize-then-upsert ordering makes a failed run harmless: if
    * the pair job dies, the store is untouched and the delivery just
    * re-runs; KeyedUpsert's manifest protocol covers crashes inside
    * the store write itself.
    *
    * Scale shape: delta-proportional work end-to-end — the only
    * full-store touch is the bucket equi-join, which shuffles
    * signature rows (bands × |corpus| small strings), and
    * KeyedUpsert rewrites only the hash buckets containing delta keys.
    */
  def incrementalNearDup(spark: org.apache.spark.sql.SparkSession,
                         storePath: String, delta: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, k: Int = 16, bands: Int = 4,
                         numBuckets: Int = 64): DataFrame = {
    // every delta doc_id gets a store row, including docs whose text
    // has NO shingles (empty sigs array): a re-delivered doc whose
    // corrected text is unsignable must still REPLACE its old
    // signatures, or the store would keep bucketing it under stale
    // text — violating the whole-row-replace contract
    val deltaSigs = graft.operators.LoopCheckpoint(
      delta.select(col(idCol).as("doc_id")).distinct()
        .join(docBandSignatures(delta, idCol, textCol, n, k, bands),
              Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sigs"),
            array().cast("array<string>")).as("sigs")))
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (fs.exists(new org.apache.hadoop.fs.Path(storePath)))
        graft.sources.KeyedUpsert.read(spark, storePath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        deltaSigs.schema)
    // store ∪ delta with delta winning on re-delivered keys (the same
    // whole-row-replace semantics the upsert below persists)
    val all = store
      .join(deltaSigs.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(deltaSigs)
    val deltaB = explodeBands(deltaSigs)
    val allB = explodeBands(all)
    val pairs = deltaB.as("a").join(allB.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val out = graft.operators.LoopCheckpoint(pairs)
    graft.sources.KeyedUpsert.upsert(spark, storePath, deltaSigs, "doc_id",
      numBuckets)
    out
  }

  /** One-call near-duplicate removal: MinHash-LSH candidates →
    * connected components → keep each component's min-id row. The
    * composition a corpus-cleaning pass actually wants when it doesn't
    * need the staged control of `Curation.curate`. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val pairs = lshCandidatePairs(docs, idCol, textCol, n, k, bands)
    val comps = graft.operators.ConnectedComponents.run(
      docs.select(col(idCol).as("node")), pairs.select("doc_a", "doc_b"))
    docs.join(comps, docs(idCol) === comps("node"))
      .filter(col("component") === col(idCol))
      .drop("node", "component")
  }

  // ---- SimHash ----------------------------------------------------------

  /** Register graft's custom Catalyst expressions for SQL use. */
  def registerExpressions(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash60", exprs => expressions.SimHash60(exprs.head), "scala_udf")

  /** 60-bit SimHash per document over normalized whitespace tokens,
    * via the custom codegen-resident expression (one pass per row — no
    * tokens×bits explosion). */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    registerExpressions(docs.sparkSession)
    val toks = split(TextAnalysis.normalized(col(textCol)), " ")
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.GraftSqlBridge.column(expressions.SimHash60(
        org.apache.spark.sql.GraftSqlBridge.expression(toks))).as("sim"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * candidate-generated by banding the 60 bits into 4×15-bit chunks
    * (any pair within distance 3 must agree on ≥1 chunk; wider
    * distances trade recall, the standard Hamming-LSH shape). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, maxBucket: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    {
      import org.apache.spark.sql.types._
      require(Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(docs.schema(idCol).dataType),
        s"simhashPairs: id column '$idCol' must be an integral type for " +
        s"the in-task pair kernel (got ${docs.schema(idCol).dataType}); " +
        "dictionary-encode non-numeric ids upstream")
    }
    val sigs = simhashSignatures(docs, idCol, textCol)
    // Pair generation runs INSIDE the (band, value) bucket's own task:
    // one groupByKey on the band key (the same shuffle the previous
    // self-join formulation paid), then a tight primitive kernel emits
    // only pairs already under the Hamming cut. The join version
    // materialized every bucket collision as an UnsafeRow pair before
    // filtering — 14.9M pairs at sf1 for a fraction of survivors; the
    // kernel does the same xor+popcount work in a local array and the
    // over-threshold collisions never become rows. Parallelism is
    // unchanged (≤ 4·2¹⁵ buckets, each bucket was already generated by
    // exactly one join task).
    //
    // |bucket|² guard: quadratic per bucket, and boilerplate-heavy
    // corpora CONCENTRATE — near-identical headers collapse onto one
    // 15-bit band value, and a hub bucket at 100 TB explodes
    // quadratically hours into the run. The kernel sees the whole
    // bucket, so the guard is a direct size check — loud failure, the
    // CoOccurrence contract. Oversized buckets mean the corpus needs
    // boilerplate stripping ([[duplicatedSpans]]) or a tighter band
    // split upstream — a semantic decision this operator must not
    // make silently.
    sigs.select(col("doc_id").cast("long").as("doc_id"),
        col("sim").cast("long").as("sim"),
        explode(sequence(lit(0), lit(3))).as("bnd"))
      .withColumn("bv", expr("shiftright(sim, bnd * 15) & 32767"))
      .select(col("bnd").cast("int").as("bnd"),
              col("bv").cast("long").as("bv"),
              col("doc_id"), col("sim"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
        val (bnd, bv) = key
        val a = it.map(r => (r._3, r._4)).toArray
        if (a.length > maxBucket)
          throw new IllegalStateException(
            s"simhashPairs: band $bnd bucket $bv has ${a.length} docs " +
            s"(max $maxBucket); strip boilerplate or sub-split the " +
            "band before pairing")
        // LAZY emission — Spark drains this iterator row by row, so
        // task memory is the bucket array alone. The earlier
        // ArrayBuffer materialized every survivor pair per bucket:
        // replica-heavy corpora put hundreds of same-signature docs in
        // one bucket (SimHash is order-free, so any token-multiset-
        // preserving perturbation collides at Hamming 0), and at sf10
        // a hub bucket's buffered pairs × 32 concurrent tasks OOMed a
        // 64g heap. None here is a singleton — allocation happens only
        // on emission.
        val n = a.length
        (0 until n - 1).iterator.flatMap { i =>
          val (idI, simI) = a(i)
          (i + 1 until n).iterator.flatMap { j =>
            val simJ = a(j)._2
            val h = java.lang.Long.bitCount(simI ^ simJ)
            if (h <= maxHamming) {
              // A near-dup pair can collide in several bands; emit it
              // ONLY from the first band the signatures share, so the
              // global pair set is exact-distinct BY CONSTRUCTION —
              // no multi-band duplicate generation (up to 4× the
              // output volume) and no distinct() shuffle over the
              // 14.9M sf1 survivors afterwards.
              var first = 0
              while (((simI >> (first * 15)) & 32767L) !=
                     ((simJ >> (first * 15)) & 32767L)) first += 1
              if (first == bnd) {
                val idJ = a(j)._1
                if (idI < idJ) Some((idI, idJ, h))
                else if (idJ < idI) Some((idJ, idI, h))
                // equal ids (duplicate input keys) never paired — the
                // strict a.doc_id < b.doc_id contract
                else None
              } else None
            } else None
          }
        }
      }
      .toDF("doc_a", "doc_b", "hamming")
  }
}
