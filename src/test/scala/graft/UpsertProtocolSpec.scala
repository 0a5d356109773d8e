package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.retention.{HouseholdRetentionNotReadyException, Protocol, Retention, RetentionConfig}
import graft.sources.KeyedUpsert

class UpsertProtocolSpec extends SparkSpec {
  import spark.implicits._

  test("KeyedUpsert replaces updated keys, keeps others, is idempotent") {
    val path = Files.createTempDirectory("upsert").toString + "/t"
    KeyedUpsert.upsert(spark,
      path, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k", 8)
    KeyedUpsert.upsert(spark, path, Seq((2L, "B!"), (4L, "d")).toDF("k", "v"), "k", 8)
    val got = KeyedUpsert.read(spark, path).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B!", 3L -> "c", 4L -> "d"))
    // idempotent repeat
    KeyedUpsert.upsert(spark, path, Seq((2L, "B!"), (4L, "d")).toDF("k", "v"), "k", 8)
    assert(KeyedUpsert.read(spark, path).count() == 4)
  }

  test("KeyedUpsert rolls an interrupted swap back to the pre-upsert state") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("upsert_crash").toString
    val path = dir + "/t"
    KeyedUpsert.upsert(spark,
      path, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k", 4)
    val before = KeyedUpsert.read(spark, path).as[(Long, String)].collect().toMap
    // Simulate a crash mid-swap: a live bucket was moved to backup (the
    // manifest names it) but its staged replacement was never moved in.
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.startsWith(KeyedUpsert.BucketCol + "="))
    val victim = buckets.head
    val backup = new Path(dir, "t_graft_backup")
    val stage = new Path(dir, "t_graft_stage")
    fs.mkdirs(backup)
    fs.mkdirs(new Path(stage, victim.getName))
    val out = fs.create(new Path(backup, "_MANIFEST"), true)
    out.write(victim.getName.getBytes("UTF-8")); out.close()
    assert(fs.rename(victim, new Path(backup, victim.getName)))
    // read() must recover the original table exactly
    val after = KeyedUpsert.read(spark, path).as[(Long, String)].collect().toMap
    assert(after == before)
    assert(!fs.exists(backup) && !fs.exists(stage))
    // and a subsequent upsert over recovered state works normally
    KeyedUpsert.upsert(spark, path, Seq((3L, "C!")).toDF("k", "v"), "k", 4)
    assert(KeyedUpsert.read(spark, path).as[(Long, String)].collect().toMap ==
      before.updated(3L, "C!"))
  }

  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** bucket dir name -> names of the parquet files in it */
  private def bucketFiles(path: String): Map[String, Set[String]] = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(path)
    fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.startsWith(KeyedUpsert.BucketCol + "="))
      .map(b => b.getName -> fs.listStatus(b).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  /** the `<table>_graft_*` sibling dirs left beside the table */
  private def leftovers(path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    fsFor(path).listStatus(root.getParent).map(_.getPath.getName)
      .filter(_.startsWith(root.getName + "_graft_")).toSeq
  }

  private def rows(path: String): Map[Long, String] =
    KeyedUpsert.read(spark, path).as[(Long, String)].collect().toMap

  test("KeyedUpsert evaluates a nondeterministic updates frame once and loses no survivor") {
    val path = Files.createTempDirectory("upsert_once").toString + "/t"
    val n = 200
    KeyedUpsert.upsert(spark, path,
      (0 until n).map(k => (k.toLong, "old")).toDF("k", "v"), "k", 64)
    val before = bucketFiles(path)
    // each evaluation counts every source row and draws a fresh ~5%
    // subset, so a second evaluation would both show in the count and
    // stage buckets the first one never touched
    val evals = spark.sparkContext.longAccumulator("updates_evals")
    val pick = udf { (k: Long) =>
      evals.add(1)
      java.util.concurrent.ThreadLocalRandom.current().nextDouble() < 0.05
    }.asNondeterministic()
    val updates = spark.range(n).toDF("k").filter(pick($"k"))
      .withColumn("v", lit("new"))
    KeyedUpsert.upsert(spark, path, updates, "k", 64)
    assert(evals.value == n)
    val got = rows(path)
    assert(got.keySet == (0 until n).map(_.toLong).toSet)
    assert(KeyedUpsert.read(spark, path).count() == n)
    val touched = spark.read.parquet(path).filter($"v" === "new")
      .select(KeyedUpsert.BucketCol).distinct().as[Int].collect().toSet
    val after = bucketFiles(path)
    val swapped = after.keySet.filter(b => after(b) != before(b))
      .map(_.stripPrefix(KeyedUpsert.BucketCol + "=").toInt)
    assert(swapped == touched)
  }

  test("KeyedUpsert writes one file per bucket and leaves no staging dirs") {
    val path = Files.createTempDirectory("upsert_layout").toString + "/t"
    KeyedUpsert.upsert(spark, path,
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4), "k", 8)
    val rng = new scala.util.Random(7)
    var want = (0L until 100L).map(k => k -> s"v$k").toMap
    (1 to 3).foreach { round =>
      val ups = Seq.fill(20)(rng.nextInt(150).toLong).distinct
        .map(k => k -> s"r$round")
      KeyedUpsert.upsert(spark, path, ups.toDF("k", "v").repartition(4), "k", 8)
      want ++= ups
    }
    assert(rows(path) == want)
    val files = bucketFiles(path)
    assert(files.size == 8 && files.values.forall(_.size == 1), files)
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("KeyedUpsert of an empty updates frame is a no-op") {
    val path = Files.createTempDirectory("upsert_empty").toString + "/t"
    KeyedUpsert.upsert(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k", 8)
    val files = bucketFiles(path)
    KeyedUpsert.upsert(spark, path, Seq.empty[(Long, String)].toDF("k", "v"), "k", 8)
    assert(rows(path) == Map(1L -> "a", 2L -> "b"))
    assert(bucketFiles(path) == files)
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("KeyedUpsert drops a delta left behind by an interrupted run") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("upsert_delta").toString
    val path = dir + "/t"
    KeyedUpsert.upsert(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k", 4)
    val delta = new Path(dir, "t_graft_delta")
    def interrupt(): Unit = Seq((2L, "lost"), (5L, "lost")).toDF("k", "v")
      .withColumn(KeyedUpsert.BucketCol, lit(0))
      .write.mode("overwrite").parquet(delta.toString)
    val fs = fsFor(path)
    interrupt()
    assert(rows(path) == Map(1L -> "a", 2L -> "b"))
    assert(!fs.exists(delta))
    interrupt()
    KeyedUpsert.upsert(spark, path, Seq((3L, "c")).toDF("k", "v"), "k", 4)
    assert(rows(path) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("KeyedUpsert refuses a bucket count other than the table's") {
    import org.apache.hadoop.fs.Path
    val path = Files.createTempDirectory("upsert_nb").toString + "/t"
    val fs = fsFor(path)
    KeyedUpsert.upsert(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k", 8)
    intercept[IllegalArgumentException] {
      KeyedUpsert.upsert(spark, path, Seq((2L, "B")).toDF("k", "v"), "k", 4)
    }
    assert(rows(path) == Map(1L -> "a", 2L -> "b"))
    // a table published without the marker adopts the caller's count
    val marker = new Path(path, "_NUM_BUCKETS")
    assert(fs.delete(marker, false))
    KeyedUpsert.upsert(spark, path, Seq((2L, "B")).toDF("k", "v"), "k", 8)
    assert(fs.exists(marker))
    intercept[IllegalArgumentException] {
      KeyedUpsert.upsert(spark, path, Seq((1L, "A")).toDF("k", "v"), "k", 16)
    }
    assert(rows(path) == Map(1L -> "a", 2L -> "B"))
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  val cfg: RetentionConfig = RetentionConfig(asOf = LocalDate.of(2021, 6, 15))

  test("Protocol.run writes both phases; re-run over written state is a no-op") {
    val path = Files.createTempDirectory("proto").toString + "/hist"
    val persons = Seq((1L, "A"), (2L, "A"), (9L, "Z")).toDF("person_id", "household_id")
    val encounters = Seq((1L, "2021-01-05"), (2L, "2021-01-20"))
      .map { case (p, d) => (p, java.sql.Date.valueOf(d)) }
      .toDF("person_id", "admit_date")
    val n = Protocol.run(spark, persons, encounters, cfg, path, 8)
    assert(n == 3)
    val hist = KeyedUpsert.read(spark, path)
    assert(hist.count() == 3)
    // person 9 (phase-2) has exactly one not-retained entry
    val h9 = hist.filter($"person_id" === 9L)
      .select(explode($"household_retention_history").as("h")).collect()
    assert(h9.length == 1 && !h9.head.getStruct(0).getAs[Boolean]("retained"))
    // idempotency: feed history back in as the P8 predicate input
    val personsDone = persons.join(
      hist.select($"person_id", $"household_retention_history"),
      Seq("person_id"), "left")
    assert(Protocol.countPersonsWithoutRetention(personsDone) == 0)
    assert(Protocol.run(spark, personsDone, encounters, cfg, path, 8) == 0L)
  }

  test("Protocol.run refuses a persons frame that lazily reads its own sink") {
    val path = Files.createTempDirectory("proto_self").toString + "/hist"
    def persons(ids: Range) = ids.map(i => (i.toLong, s"H${i % 40}"))
      .toDF("person_id", "household_id")
    val encounters = (1 to 300).filter(_ % 3 == 0)
      .map(i => (i.toLong, java.sql.Date.valueOf(
        LocalDate.of(2021, 1, 1).plusDays(i % 150))))
      .toDF("person_id", "admit_date")
    assert(Protocol.run(spark, persons(1 to 200), encounters, cfg, path, 8) == 200)
    val before = KeyedUpsert.read(spark, path)
      .select($"person_id", to_json($"household_retention_history"))
      .as[(Long, String)].collect().toMap
    // a 100-person delivery whose history column is a lazy join with
    // the sink it is about to be upserted into
    val delivery = persons(1 to 300).join(
      KeyedUpsert.read(spark, path)
        .select($"person_id", $"household_retention_history"),
      Seq("person_id"), "left")
    val e = intercept[IllegalArgumentException] {
      Protocol.run(spark, delivery, encounters, cfg, path, 8)
    }
    assert(e.getMessage.contains("Stage"), e.getMessage)
    val after = KeyedUpsert.read(spark, path)
      .select($"person_id", to_json($"household_retention_history"))
      .as[(Long, String)].collect().toMap
    assert(after == before, "the refused run must not touch the sink")
    // the staged snapshot the message names goes through
    val snapshot = Files.createTempDirectory("proto_snap").toString + "/p"
    delivery.write.parquet(snapshot)
    assert(Protocol.run(spark, spark.read.parquet(snapshot), encounters,
      cfg, path, 8) == 100)
    assert(KeyedUpsert.read(spark, path).count() == 300)
  }

  test("RetentionJob: args-configured end-to-end run, reference output schema") {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    import graft.retention.RetentionJob
    val sink = Files.createTempDirectory("job").toString + "/sink"
    val n = RetentionJob.run(spark, RetentionJob.JobConfig(
      "ALL", "/root/testdata/sf0.001", sink, 100))
    assert(n > 0)
    val hist = KeyedUpsert.read(spark, sink)
    assert(hist.count() == n)
    // the reference's exact nested shape (case classes :264-276)
    val elem = hist.schema("household_retention_history").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(elem.fieldNames.toSeq == Seq("date_range", "date_range_alt", "retained"))
    assert(elem("date_range").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("gte", "lte"))
    assert(elem("date_range_alt").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("gte", "lte"))
    // a re-run on the same sink: run returns the persons written by
    // THIS run (the star persons carry no history, so all of them
    // again), and the sink keeps exactly its rows
    assert(RetentionJob.run(spark, RetentionJob.JobConfig(
      "ALL", "/root/testdata/sf0.001", sink, 100)) == n)
    assert(KeyedUpsert.read(spark, sink).count() == n)
    // tenant-scoped variant writes a subset
    val sink2 = Files.createTempDirectory("job2").toString + "/sink"
    val n2 = RetentionJob.run(spark, RetentionJob.JobConfig(
      "BUILDING", "/root/testdata/sf0.001", sink2, 100))
    assert(n2 > 0 && n2 < n)
  }

  test("household probe: sorted top-k pending households with member counts") {
    val persons = Seq((1L, "B"), (2L, "B"), (3L, "A"), (4L, "C"))
      .toDF("person_id", "household_id")
    val got = Protocol.householdsWithoutRetentionProbe(persons, 2)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("A", 1L), ("B", 2L)))
  }

  test("phase-ordering guard throws when phase 1 incomplete") {
    val persons = Seq((1L, "A")).toDF("person_id", "household_id")
    val encounters = Seq((1L, java.sql.Date.valueOf("2021-01-05")),
                         (1L, java.sql.Date.valueOf("2021-02-05")))
      .toDF("person_id", "admit_date")
    intercept[HouseholdRetentionNotReadyException] {
      Protocol.assertPhase1Complete(persons, encounters, cfg)
    }
    // once processed, guard passes
    val done = persons.withColumn("household_retention_history",
      array(struct(lit(0L).as("gte"), lit(1L).as("lte"),
                   lit("").as("start_date"), lit("").as("end_date"),
                   lit(true).as("retained"))))
    Protocol.assertPhase1Complete(done, encounters, cfg)
  }
}
