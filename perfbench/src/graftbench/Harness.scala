package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Bus

/** One operation's outcome: `latencyS` (wall) and `cpuS` (CPU time of
  * the whole process: driver, executors, GC) cover only the public
  * call(s) being measured; staging and checks around it are not
  * included. */
final case class OpResult(name: String, latencyS: Double, cpuS: Double, ok: Boolean,
                          delivered: Long = 0L, note: String = "", checkS: Double = 0.0)

object Measure {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `body` and returns its value, or the exception it threw, with
    * the wall and process CPU seconds it took. */
  def apply[T](body: => T): (Either[String, T], Double, Double) = {
    val c0 = os.getProcessCpuTime; val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e.toString.take(300)) }
    (r, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }
}

/** A workload: set-up that can be repeated from scratch, operations
  * run in rounds (the loop checks the clock only between rounds), and
  * a final report with input sizes, checks and the checker self-test. */
trait Workload {
  def roundSize: Int
  /** One set-up round from scratch; a problem it ran into, if any. */
  def setupRound(round: Int): Option[String]
  /** Checks what the last set-up round built, outside its timing; the
    * problem found, if any. */
  def checkSetup(): Option[String] = None
  def op(i: Int): OpResult
  def report(): Map[String, Any]
  /** Names of deliberately tampered outputs and whether the checks
    * caught each one. */
  def selfTest(): Seq[(String, Boolean)]
  /** On-disk sink bytes per live person, or 0 when there is no sink. */
  def sinkBytesPerPerson: Double = 0.0
}

/** Harness context shared by the workloads: the session, the run's
  * scratch directory, and the span recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val root: String, val nproc: Int) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 1
  private var parents = List(0)
  var opIndex = -1
  /** Spans are recorded only in the traced phase. */
  var tracing = false

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan; nextSpan += 1
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, name)
      val parent = parents.head
      parents = id :: parents
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val d = (System.nanoTime() - t0) / 1e9
        spans += Span(id, parent, name, opIndex, w0, System.currentTimeMillis(), d)
        parents = parents.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  def path(rel: String): String = s"$work/$rel"

  def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs set-up rounds and the timed window, and turns what the window
  * saw into the end-to-end or the per-layer metrics. */
final class Runner(ctx: Ctx, wl: Workload, seconds: Int, traced: Boolean,
                   setupRounds: Int, heapEvery: Int) {
  private val spark = ctx.spark
  private val mem = ManagementFactory.getMemoryMXBean

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum

  def run(): Map[String, Any] = {
    val setup = (0 until setupRounds).map { r =>
      val t0 = System.nanoTime()
      val problem = wl.setupRound(r)
      val s = (System.nanoTime() - t0) / 1e9
      // the last round's build, which the operations use, is checked in full
      val found = problem.orElse(if (r == setupRounds - 1) wl.checkSetup() else None)
      OpResult(s"setup$r", s, 0.0, found.isEmpty, note = found.getOrElse(""))
    }
    val setupS = setup.map(_.latencyS)
    val ops = mutable.ArrayBuffer[OpResult]()
    val tracedOps = mutable.ArrayBuffer[OpResult]()
    var heapPeak = 0L
    var opIdx = 0
    def window(untilS: Double, t0: Long, into: mutable.ArrayBuffer[OpResult],
               sampleHeap: Boolean): Unit = {
      do {
        (0 until wl.roundSize).foreach { _ =>
          ctx.opIndex = opIdx
          val r = wl.op(opIdx)
          opIdx += 1
          into += r
          if (sampleHeap && opIdx % heapEvery == 0) {
            System.gc()
            heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
          }
        }
      } while ((System.nanoTime() - t0) / 1e9 < untilS)
    }

    val t0 = System.nanoTime()
    val out = mutable.LinkedHashMap[String, Any]()
    out("setup_rounds_s") = setupS
    if (!traced) {
      window(seconds, t0, ops, sampleHeap = true)
    } else {
      window(seconds / 2.0, t0, ops, sampleHeap = false)
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      Bus.drain(spark.sparkContext)
      ctx.tracing = true
      val g0 = gcMs
      window(seconds, t0, tracedOps, sampleHeap = false)
      val gcS = (gcMs - g0) / 1e3
      ctx.tracing = false
      Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      out("per_layer") = perLayer(tracer, tracedOps.toSeq, ops.toSeq, gcS)
      out("spans") = ctx.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durS))
    }
    val all = setup ++ ops ++ tracedOps
    val done = ops.filter(_.ok).toSeq
    // per kind (a delivery, or one query of the set), so that a mix of
    // queries of different cost does not make the median jump between them
    def perKind(f: OpResult => Double): Double = {
      val medians = done.groupBy(_.name).values.map(k => Stats.median(k.map(f)))
      math.exp(medians.map(math.log).sum / medians.size)
    }
    if (!traced) {
      out("end_to_end") = Json.obj(
        "setup_s" -> Stats.median(setupS),
        "op_median_s" -> perKind(_.latencyS),
        "op_cpu_s" -> perKind(_.cpuS),
        "op_p50_pooled_s" -> Stats.median(done.map(_.latencyS)),
        "ops_per_s" -> done.size / done.map(_.latencyS).sum,
        "live_heap_peak_mb" -> heapPeak / 1048576.0)
    }
    out("attempted") = all.size
    out("failed") = all.count(!_.ok)
    out("ops") = all.map(o => Json.obj("name" -> o.name, "latency_s" -> o.latencyS,
      "cpu_s" -> o.cpuS, "ok" -> o.ok, "check_s" -> o.checkS, "note" -> o.note))
    out("workload_report") = wl.report()
    val st = wl.selfTest()
    out("selftest") = st.map { case (n, caught) => Json.obj("tamper" -> n, "caught" -> caught) }
    out("selftest_ok") = st.forall(_._2)
    out.toMap
  }

  private def perLayer(t: Tracer, traced: Seq[OpResult], untraced: Seq[OpResult],
                       gcS: Double): Map[String, Any] = {
    val n = math.max(1, traced.size).toDouble
    val mb = 1048576.0
    // the measured spans: each operation's timed public calls
    val measured = ctx.spans.filter(s => Trace.Measured(s.name))
    def coveredInSpans(iv: Iterable[(Long, Long)]): Long =
      measured.map(s => Trace.covered(iv, s.startMs, s.endMs)).sum
    val wallMs = measured.map(s => s.endMs - s.startMs).sum.toDouble
    // only jobs started inside a measured span count
    val jobs = t.jobs.values.filter(j => Trace.Measured(j.span)).toSeq
    def stagesOf(j: JobRec) = j.stages.flatMap(t.stages.get).filter(_.completed > 0)
    def intervals(module: String): Seq[(Long, Long)] =
      t.execs.values.filter(_.module == module).map(e => (e.startMs, e.endMs)).toSeq ++
        t.jobs.values.filter(j => j.module == module && j.exec.isEmpty)
          .map(j => (j.startMs, j.endMs))

    // Code view: each execution's task time is split between the modules
    // whose plan nodes it ran, in proportion to their operator time; the
    // byte counters come from the nodes themselves.
    val code = mutable.HashMap[String, ModuleCost]()
    val taskMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    jobs.groupBy(_.exec).foreach { case (exec, js) =>
      val ms = js.flatMap(stagesOf).map(_.runMs).sum.toDouble
      exec.flatMap(t.execs.get) match {
        case Some(e) =>
          e.cost.foreach { case (m, c) =>
            val a = code.getOrElseUpdate(m, new ModuleCost)
            a.shuffleWrite += c.shuffleWrite; a.input += c.input
            a.spill += c.spill; a.output += c.output
          }
          val opMs = e.cost.values.map(_.opMs).sum
          if (opMs > 0) e.cost.foreach { case (m, c) => taskMs(m) += ms * c.opMs / opMs }
          else taskMs(e.module) += ms
        case None => js.foreach(j => taskMs(j.module) += stagesOf(j).map(_.runMs).sum)
      }
    }

    val m = mutable.LinkedHashMap[String, Any]()
    var moduleMs = 0L
    Trace.Modules.foreach { name =>
      // call view: the actions this module's code started
      val js = jobs.filter(_.module == name)
      val ss = js.flatMap(stagesOf)
      val cov = coveredInSpans(intervals(name))
      moduleMs += cov
      m(s"$name.jobs") = js.size / n
      m(s"$name.stages") = ss.size / n
      m(s"$name.tasks") = ss.map(_.tasks).sum / n
      m(s"$name.wall_s") = cov / 1e3 / n
      val c = code.getOrElse(name, new ModuleCost)
      m(s"$name.task_s") = taskMs(name) / 1e3 / n
      m(s"$name.shuffle_write_mb") = c.shuffleWrite / mb / n
      m(s"$name.input_mb") = c.input / mb / n
      m(s"$name.spill_mb") = c.spill / mb / n
      m(s"$name.output_mb") = c.output / mb / n
    }
    val allStages = jobs.flatMap(stagesOf)
    val unionMs = coveredInSpans(Trace.Modules.flatMap(intervals))
    val gapMs = wallMs - unionMs
    val construct = measured.filter(_.name == "construct").map(_.durS).sum
    val constructJobs = jobs.count(_.span == "construct")
    val planMs = t.planPhases.collect { case (start, ms)
      if measured.exists(s => start >= s.startMs && start <= s.endMs) => ms }.sum
    val delivered = traced.map(_.delivered).sum
    val sourcesRows = jobs.filter(_.module == "sources").flatMap(stagesOf).map(_.outputRows).sum
    m("registry.construct_s") = construct / n
    m("registry.construct_jobs") = constructJobs / n
    m("plans.plan_s") = planMs / 1e3 / n
    m("spark.gc_s") = gcS / n
    m("spark.idle_slot_s") = allStages.map(s =>
      math.max(0L, (s.completed - s.submitted) * ctx.nproc - s.runMs)).sum / 1e3 / n
    m("spark.peak_exec_mem_mb") = (0L +: allStages.map(_.peakExecMem)).max / mb
    m("spark.spill_mb") = allStages.map(_.spill).sum / mb / n
    m("driver.gap_s") = gapMs / 1e3 / n
    m("sources.write_amp") = if (delivered > 0) sourcesRows.toDouble / delivered else 0.0
    m("sources.sink_bytes_per_person") = wl.sinkBytesPerPerson
    val tl = traced.map(_.latencyS); val ul = untraced.map(_.latencyS)
    m("trace.op_p50_s") = Stats.median(tl)
    m("trace.overhead_frac") =
      if (ul.nonEmpty && tl.nonEmpty) Stats.median(tl) / Stats.median(ul) - 1.0 else 0.0
    // executions and gap cover the measured spans by construction; what
    // can fail is that the spans cover the operations' timed latency
    m("trace.closure_frac") = if (tl.nonEmpty) (unionMs + gapMs) / 1e3 / tl.sum else 0.0
    // time two modules' executions both claim (nested executions)
    m("trace.overlap_frac") = if (wallMs > 0) (moduleMs - unionMs) / wallMs else 0.0
    m("trace.ops") = traced.size.toDouble
    m.toMap
  }
}
