package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against one-off entry points piling up in the library: the
  * objects under src/main/scala that define `main` must be exactly the
  * documented runnable set (README, "Entry points"). A new main fails
  * here until it is documented there and added below, or deleted. An
  * A/B needs no main of its own: it is two Bench runs (see README). */
class MainsSpec extends AnyFunSuite {

  private val documented = Set("Bench", "ScaleSweep", "ScaleFixture",
    "Verify", "StreamBench", "Explain", "SessionHygieneCheck",
    "RetentionJob")

  /** Names of the objects whose body declares `def main(`, found by
    * attributing each `def main(` to the nearest preceding `object`. */
  private def mainObjects(file: Path): Seq[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val objects = """(?m)^\s*(?:(?:private|final|case)\s+)*object\s+(\w+)""".r
      .findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    val mains = """def\s+main\s*\(""".r.findAllMatchIn(src).map(_.start)
    val apps = """(?m)object\s+(\w+)[^{]*\bextends\s+App\b""".r
      .findAllMatchIn(src).map(_.group(1))
    (mains.flatMap(at => objects.takeWhile(_._1 < at).lastOption.map(_._2))
      ++ apps).toSeq
  }

  test("the object mains under src/main/scala are the documented set") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val found = files.flatMap(mainObjects)
    assert(found.size == found.distinct.size, s"duplicate mains: $found")
    assert(found.toSet == documented,
      s"undocumented: ${(found.toSet -- documented).toSeq.sorted}; " +
        s"documented but gone: ${(documented -- found.toSet).toSeq.sorted}")
  }
}
