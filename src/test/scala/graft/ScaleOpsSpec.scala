package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Scale-toolkit operators: salting correctness and bucketed
  * co-located joins (shuffle elimination verified in the plan). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSumCount equals plain groupBy aggregation") {
    val df = (1 to 10000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 97}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("count_v"))
      .as[(String, Double, Long)].collect().toSet
    val salted = Skew.saltedSumCount(df, Seq("k"), "v", 16)
      .as[(String, Double, Long)].collect().toSet
    assert(salted.map(t => (t._1, t._3)) == plain.map(t => (t._1, t._3)))
    // sums: float assoc differs across salt groupings; compare rounded
    val ps = plain.map(t => t._1 -> math.round(t._2)).toMap
    salted.foreach(t => assert(math.round(t._2) == ps(t._1)))
  }

  test("saltedJoin equals plain join") {
    val fact = (1 to 5000).map(i => (i % 7, i)).toDF("k", "x")
    val dim = (0 until 7).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, "k").as[(Int, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", 8)
      .select("k", "x", "name").as[(Int, Int, String)].collect().toSet
    assert(salted == plain)
  }

  test("retention over household-bucketed persons skips the person shuffles") {
    // At 100 TB the person table would live bucketed by household_id;
    // the scaffold's household-distinct and the final fan-out join then
    // read pre-clustered buckets instead of shuffling persons at all.
    import java.time.LocalDate
    import graft.retention.{Retention, RetentionConfig}
    spark.sql("DROP TABLE IF EXISTS b_persons")
    val persons = (1L to 300L).map(i => (i, i / 3)).toDF("person_id", "household_id")
    val encounters = (1L to 900L)
      .map(i => (i % 300 + 1, java.sql.Date.valueOf(LocalDate.of(2021, 1, 1)
        .plusDays(i % 400))))
      .toDF("person_id", "admit_date")
    persons.write.bucketBy(8, "household_id").sortBy("household_id")
      .mode("overwrite").saveAsTable("b_persons")
    val cfg = RetentionConfig(asOf = LocalDate.of(2022, 6, 15))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = Retention.personRanges(spark.table("b_persons"), encounters, cfg)
      val flat = Retention.personRanges(persons, encounters, cfg)
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      // same rows, strictly fewer shuffles
      assert(exchanges(bucketed) < exchanges(flat),
        s"bucketed=${exchanges(bucketed)} flat=${exchanges(flat)}")
      assert(bucketed.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)
        == flat.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom-filter pre-join keeps all matches and prunes most non-matches") {
    // the 100 TB join-reduction pattern: build a bloom filter on the
    // small side's keys, filter the big side BEFORE its shuffle —
    // false positives only cost bytes, never correctness
    val dir = "/root/testdata/sf0.001"
    val smallKeys = Tables.load(spark, dir, "customer")
      .filter($"c_acctbal" > 9000.0).select($"c_custkey")
    val bloom = smallKeys.stat.bloomFilter("c_custkey", 1000L, 0.03)
    val bBloom = spark.sparkContext.broadcast(bloom)
    val mightMatch = udf((k: Long) => bBloom.value.mightContain(k))
    val orders = Tables.load(spark, dir, "orders")
    val pre = orders.filter(mightMatch($"o_custkey"))
    val exact = orders.join(smallKeys, $"o_custkey" === $"c_custkey", "left_semi")
    // no false negatives: every truly-matching row survives the prefilter
    assert(exact.join(pre.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .isEmpty)
    // and the prefilter removed the bulk of the non-matching rows
    assert(pre.count() < orders.count() / 2,
      s"pre=${pre.count()} all=${orders.count()}")
  }

  test("compaction rewrites many small files into few, preserving data") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (1 to 5000).map(i => (i.toLong, s"row_$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir) // 40 tiny files
    val before = df.collect().toSet
    val (nBefore, nAfter) = Compaction.compact(spark, dir, 512L * 1024)
    assert(nBefore == 40 && nAfter < 40 && nAfter >= 1,
           s"before=$nBefore after=$nAfter")
    assert(spark.read.parquet(dir).collect().toSet == before)
    // idempotent: second pass is a no-op
    assert(Compaction.compact(spark, dir, 512L * 1024) == (nAfter, nAfter))
    // crash recovery: die at each rename of a compaction (Spark's
    // committer renames, then the publish's); the next compaction must
    // restore the rows first and leave no staging or backup sibling
    var crashDir = ""
    def freshCrashDir(): Unit = {
      crashDir = CrashPoints.trapPath(spark, "compact_crash", "t")
      df.repartition(40).write.parquet(crashDir)
    }
    freshCrashDir()
    val points = CrashPoints.everyRename(
        Compaction.compact(spark, crashDir, 512L * 1024)) {
      Compaction.compact(spark, crashDir, 512L * 1024) // must restore first
      assert(spark.read.parquet(crashDir).collect().toSet == before)
      assert(CrashPoints.leftovers(spark, crashDir).isEmpty,
        CrashPoints.leftovers(spark, crashDir))
      freshCrashDir()
    }
    println(s"Compaction: $points crash points covered")
    assert(points > 2)
  }

  test("AQE splits a skewed join partition (skew-immune shuffle joins)") {
    // one hot key holding ~90% of the fact side; with tiny skew
    // thresholds AQE must mark the SMJ partition as skewed and split it
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = (1 to 60000)
        .map(i => (if (i % 10 != 9) 0L else (i % 50).toLong, s"payload_$i"))
        .toDF("k", "v")
      val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // materialize THIS QueryExecution (count() would build its own),
      // so the AQE plan below is the final, re-optimized one
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables join without a shuffle (co-located SMJ)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val dir = "/root/testdata/sf0.001"
    Tables.load(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.load(spark, dir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // force SMJ so bucketing (not broadcast) is the shuffle-avoider,
    // as it would be when neither side fits in memory at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() ==
        Tables.load(spark, dir, "lineitem").join(
          Tables.load(spark, dir, "orders"),
          $"l_orderkey" === $"o_orderkey").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
