package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity}

/** Bit-compatibility pin for the round-15 HyperplaneBuckets kernel:
  * the compiled per-row expression must reproduce the previous
  * posexplode⋈planeDf→double-groupBy aggregate formulation exactly —
  * including the md5-derived weights, Spark-round quantization, sign
  * bits, and per-band bit packing — on real fixture vectors and on
  * null/short edge vectors the fixture lacks. */
class HyperplaneBucketsSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-round-15 DataFrame formulation, verbatim. */
  private def aggregateForm(emb: DataFrame, planes: Int, bands: Int): DataFrame = {
    val dims = 64
    val planeDf = broadcast(
      (for (p <- 0 until planes * bands; d <- 0 until dims) yield (p, d))
        .toDF("p", "d")
        .withColumn("w",
          Dedup.md5Hash60(concat_ws("_", col("p"), col("d"))) % 2001 - 1000))
    val quantized = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("q", round(col("x").cast("double") * 1000).cast("long"))
    quantized.join(planeDf, "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("q") * col("w")).as("dot"))
      .select(col("vec_id"), expr(s"p div $planes").as("band"),
              col("p"), when(col("dot") > 0, 1L).otherwise(0L).as("bit"))
      .groupBy("vec_id", "band")
      .agg(expr(s"sum(shiftleft(bit, cast(p % $planes as int))) AS bucket"))
  }

  private def collect(df: DataFrame): Map[(Long, Long), Long] =
    df.select(col("vec_id").cast("long"), col("band").cast("long"),
        col("bucket").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (v, b, k) => (v, b) -> k }.toMap

  test("kernel matches the aggregate formulation on fixture embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val kernel = collect(Similarity.hyperplaneLshBuckets(emb, 16, 4))
    val agg = collect(aggregateForm(emb, 16, 4))
    assert(kernel.size == agg.size && kernel == agg)
    // different geometry too (8 planes × 2 bands)
    val k2 = collect(Similarity.hyperplaneLshBuckets(emb.limit(50), 8, 2))
    val a2 = collect(aggregateForm(emb.limit(50), 8, 2))
    assert(k2 == a2)
  }

  test("kernel matches on null-element and short vectors (sum-skips-nulls)") {
    val rows = Seq(
      (1L, Seq[java.lang.Float](1.0f, -2.0f, null, 0.0015f) ++
        Seq.fill[java.lang.Float](60)(0.5f)),
      (2L, Seq[java.lang.Float](0.4999f, -0.0005f)), // short vector
      (3L, Seq.fill[java.lang.Float](64)(null))      // all-null
    ).toDF("vec_id", "embedding")
    val kernel = collect(Similarity.hyperplaneLshBuckets(rows, 16, 4))
    val agg = collect(aggregateForm(rows, 16, 4))
    assert(kernel == agg)
  }

  test("NaN, ±Inf and empty embeddings match the aggregate form, " +
       "codegen and interpreted") {
    val rows = Seq(
      (1L, Seq[java.lang.Double](Double.NaN, 0.25, -0.5) ++
        Seq.fill[java.lang.Double](61)(0.125)),
      (2L, Seq[java.lang.Double](Double.PositiveInfinity, -0.75, 0.5)),
      (3L, Seq[java.lang.Double](0.5, Double.NegativeInfinity, null, 1e307)),
      (4L, Seq.empty[java.lang.Double])
    ).toDF("vec_id", "embedding")
    // the aggregate form's round(x·1000) cast to long takes non-finite
    // values only with ANSI off (NaN → 0, ±Inf → ±Long bound, wrapping
    // products); the kernel reproduces that cast
    val want = withConf("spark.sql.ansi.enabled" -> "false") {
      collect(aggregateForm(rows, 16, 4))
    }
    assert(!want.keySet.exists(_._1 == 4L), "empty vector explodes to no rows")
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"),
                                   ("NO_CODEGEN", "false")))
      withConf("spark.sql.codegen.factoryMode" -> mode,
               "spark.sql.codegen.wholeStage" -> wholeStage) {
        assert(collect(Similarity.hyperplaneLshBuckets(rows, 16, 4)) == want,
          s"factoryMode=$mode")
      }
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("plan is a single projection — no joins, no aggregation") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val plan = Similarity.hyperplaneLshBuckets(emb, 16, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"expected a pure per-row plan:\n$plan")
  }
}
