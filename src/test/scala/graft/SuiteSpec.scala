package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The shared suite runner: session conf resolution, selection, the
  * guarded pass loop and both timing artifacts. */
class SuiteSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val sf = "/root/testdata/sf0.001"

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("each session default yields to a spark.* system property of its key") {
    val defaults = Suite.sessionConf(Map.empty, "8")
    assert(defaults == SeqMap(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    for (k <- defaults.keys)
      assert(!Suite.sessionConf(Map(k -> "x"), "8").contains(k),
        s"$k set over its system property")
    // -Dspark.sql.shuffle.partitions=128 yields that key alone
    assert(Suite.sessionConf(Map("spark.sql.shuffle.partitions" -> "128"), "8")
      .keySet == defaults.keySet - "spark.sql.shuffle.partitions")
    // an external master owns parallelism: no local shuffle default
    assert(Suite.sessionConf(Map("spark.master" -> "yarn"), "8").keySet ==
      defaults.keySet - "spark.master" - "spark.sql.shuffle.partitions")
    // extra keys are defaults too
    val extra = Seq("spark.rdd.compress" -> "true")
    assert(Suite.sessionConf(Map.empty, "8", extra)("spark.rdd.compress") == "true")
    assert(!Suite.sessionConf(Map("spark.rdd.compress" -> "false"), "8", extra)
      .contains("spark.rdd.compress"))
  }

  test("selection: SPARK_GRAFT_ONLY keeps, SPARK_GRAFT_SKIP drops, name order") {
    val q: Suite.Query = (s, _) => s.range(1).toDF()
    val all = Map("q_c" -> q, "q_a" -> q, "q_b" -> q, "q_d" -> q)
    def names(env: Map[String, String]) = Suite.select(all, env).queries.map(_._1)
    assert(names(Map.empty) == Seq("q_a", "q_b", "q_c", "q_d"))
    assert(names(Map("SPARK_GRAFT_ONLY" -> "q_d,q_b")) == Seq("q_b", "q_d"))
    assert(names(Map("SPARK_GRAFT_SKIP" -> "q_a, q_c")) == Seq("q_b", "q_d"))
    val both = Suite.select(all,
      Map("SPARK_GRAFT_ONLY" -> "q_a,q_b,q_c", "SPARK_GRAFT_SKIP" -> "q_b"))
    assert(both.queries.map(_._1) == Seq("q_a", "q_c"))
    assert(both.skipped == Seq("q_b"))
  }

  test("a query that throws in pass 2 only is dropped from the timings and kept as an error") {
    for (timing <- Seq(Bench.timing, ScaleSweep.timing)) {
      var calls = 0
      val flaky: Suite.Query = (s, _) => {
        calls += 1
        if (calls == (if (timing.warmup) 3 else 2))
          throw new IllegalStateException("pass 2 breaks")
        s.range(10).toDF()
      }
      val ok: Suite.Query = (s, _) => s.range(5).toDF()
      val sel = Suite.select(Map("q_flaky" -> flaky, "q_ok" -> ok), Map.empty)
      val (artifact, clean) =
        Suite.timed(spark, sf, sel, timing.copy(replays = Nil), None)
      assert(!clean)
      val art = mapper.readTree(Json.render(artifact))
      assert(keys(art.get("queries")) == Set("q_ok"))
      assert(keys(art.get("cold")) == Set("q_ok"))
      assert(keys(art.get("rows")) == Set("q_ok"))
      assert(art.get(timing.errorsKey).get("q_flaky").asText
        .contains("pass 2 breaks"))
      assert(art.get("n_clean").asInt == 1 && art.get("n_queries").asInt == 2)
      assert(art.get("rows").get("q_ok").asLong == 5L)
    }
  }

  test("the compact Bench line is the slowest-first prefix that fits in 1850 chars") {
    val times = (1 to 300).map(i => f"q_query_number_$i%03d" -> i / 7.0)
    val full = SeqMap[String, Any]("metric" -> "total",
      "value" -> times.map(_._2).sum, "unit" -> "sec", "sf" -> sf,
      "queries" -> SeqMap.from(times.sortBy(-_._2)),
      "cold" -> SeqMap.from(times), "rows" -> SeqMap.empty[String, Long],
      "errors" -> SeqMap("q_x" -> "boom"), "prebuild" -> SeqMap("a" -> 1.0))
    val line = Bench.compactLine(full, "bench_full.json")
    assert(line.length <= 1850)
    val js = mapper.readTree(line)
    val kept = js.get("queries").fields().asScala.map(_.getKey).toSeq
    val slowest = times.sortBy(-_._2).map(_._1)
    assert(kept.nonEmpty && kept == slowest.take(kept.size))
    assert(js.get("queries_omitted").asInt + kept.size == 300)
    val restSec = times.sortBy(-_._2).drop(kept.size).map(_._2).sum
    assert(math.abs(js.get("omitted_sec").asDouble - restSec) < 0.001)
    assert(js.get("n_errors").asInt == 1)
    assert(js.get("full").asText == "bench_full.json")
    assert(!js.has("cold") && !js.has("rows") && !js.has("errors"))
    assert(js.has("prebuild") && js.get("sf").asText == sf)
    // the budget, not the query count, ended the prefix
    val roomier = mapper.readTree(Bench.compactLine(full, "bench_full.json", 4000))
    assert(roomier.get("queries").size > kept.size)
  }

  test("a two-query run writes both artifacts with every committed key and no partial") {
    val dir = Files.createTempDirectory("suite_artifacts")
    val sel = Suite.select(SparkEntry.queries,
      Map("SPARK_GRAFT_ONLY" -> "q_agg_sum,q_filter_project"))
    val benchPath = dir.resolve("bench_full.json").toString
    val out = new java.io.ByteArrayOutputStream()
    val clean = Console.withOut(out)(Bench.run(spark, sf, sel, benchPath))
    assert(clean)
    val lines = out.toString("UTF-8").split("\n").filter(_.startsWith("{"))
    assert(lines.length == 2)
    val Seq(fullLine, compact) = lines.toSeq.map(mapper.readTree)
    assert(mapper.readTree(Files.readString(Paths.get(benchPath))) == fullLine)
    assert(keys(fullLine.get("queries")) == Set("q_agg_sum", "q_filter_project"))
    // every key of the committed Bench artifact's compact line
    val r15 = mapper.readTree(Files.readString(Paths.get("BENCH_r15.json")))
      .get("tail").asText.split("\n").filter(_.startsWith("{\"metric\"")).last
    val missing = keys(mapper.readTree(r15)) -- keys(compact)
    assert(missing.isEmpty, s"compact line lacks $missing")
    assert(compact.get("shuffle_partitions").asInt ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(compact.get("ansi").asBoolean == spark.conf.get("spark.sql.ansi.enabled").toBoolean)

    val sweepPath = dir.resolve("sweep.json").toString
    val (_, sweepClean) =
      Suite.timed(spark, sf, sel, ScaleSweep.timing, Some(sweepPath))
    assert(sweepClean)
    val sweep = mapper.readTree(Files.readString(Paths.get(sweepPath)))
    val sf1 = mapper.readTree(Files.readString(Paths.get("BENCH_sf1_r14.json")))
    assert((keys(sf1) -- keys(sweep)).isEmpty, keys(sf1) -- keys(sweep))
    assert(sweep.get("metric").asText == "sweep_total")
    assert(sweep.get("passes").asInt == 2)
    assert(keys(sweep.get("rows")) == Set("q_agg_sum", "q_filter_project"))
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".partial")).isEmpty)
  }
}
