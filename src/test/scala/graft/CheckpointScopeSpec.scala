package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{CheckpointScope, LoopCheckpoint}

/** Deterministic checkpoint release (round-13): dead checkpoint blocks
  * must not wait for a driver GC + ContextCleaner to be dropped — the
  * accumulation that OOM'd the round-12 single-JVM sf100 sweep. Pins:
  *   - [[CheckpointScope.scoped]] releases a query's checkpoints when
  *     the body returns;
  *   - [[CheckpointScope.retained]] exempts session-cache builds, and
  *     the retained frame stays consumable after the scope closes;
  *   - [[LoopCheckpoint.Rolling]] frees round r the moment round r+1
  *     lands, keeping only the final round;
  *   - [[CheckpointScope.pin]] and [[LoopCheckpoint]] are the only
  *     checkpoint calls in the library, so every pin is registered.
  */
class CheckpointScopeSpec extends SparkSpec {
  import spark.implicits._

  private def level(df: DataFrame): StorageLevel =
    GraftSqlBridge.checkpointRdd(df).get.getStorageLevel

  private def base: DataFrame = (1L to 256L).map(i => (i, i % 7))
    .toDF("id", "k")

  test("scoped releases the query's checkpoints; blocks live inside") {
    var pinned: DataFrame = null
    val n = CheckpointScope.scoped {
      pinned = LoopCheckpoint(base)
      assert(level(pinned) != StorageLevel.NONE,
        "checkpoint must be materialized inside the scope")
      pinned.count()
    }
    assert(n == 256L)
    assert(level(pinned) == StorageLevel.NONE,
      "scope exit must unpersist the query's checkpoint blocks")
  }

  test("scoped releases on FAILURE too — a crashed query's half-built " +
       "pins must not outlive it") {
    var pinned: DataFrame = null
    intercept[RuntimeException] {
      CheckpointScope.scoped {
        pinned = CheckpointScope.pin(base)
        sys.error("boom")
      }
    }
    assert(level(pinned) == StorageLevel.NONE)
  }

  test("retained builds survive the enclosing scope and stay consumable") {
    var kept: DataFrame = null
    CheckpointScope.scoped {
      kept = CheckpointScope.retained { LoopCheckpoint(base) }
      kept.count()
    }
    assert(level(kept) != StorageLevel.NONE,
      "retained checkpoint must keep its blocks past the scope")
    // the later-consumer path: a different query reads the cached frame
    assert(CheckpointScope.scoped { kept.count() } == 256L)
    CheckpointScope.release(kept) // leave the suite session clean
  }

  test("Rolling frees superseded rounds, keeps the final one") {
    val roll = new LoopCheckpoint.Rolling
    var cur = base
    val rounds = Seq.newBuilder[DataFrame]
    CheckpointScope.scoped {
      (1 to 3).foreach { _ =>
        cur = roll.next(cur.withColumn("k", col("k") + 1))
        rounds += cur
      }
      val all = rounds.result()
      assert(all.dropRight(1).forall(level(_) == StorageLevel.NONE),
        "superseded rounds must be released as soon as the next lands")
      assert(level(all.last) != StorageLevel.NONE,
        "the final round is the loop's result — it must stay")
      assert(cur.count() == 256L)
    }
  }

  test("only CheckpointScope and LoopCheckpoint checkpoint in src/main/scala") {
    val owners = Set("CheckpointScope.scala", "LoopCheckpoint.scala")
    val call = """\.(?:localCheckpoint|checkpoint)\s*\(""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val strays = for {
      f <- files if !owners(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"
    assert(strays.isEmpty,
      s"checkpoint outside CheckpointScope.pin / LoopCheckpoint: $strays")
  }

  test("no active scope: checkpoints behave as before (alive, GC-bound)") {
    val free = LoopCheckpoint(base)
    assert(level(free) != StorageLevel.NONE)
    assert(free.count() == 256L)
    CheckpointScope.release(free)
  }
}
