package graftbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Bus

/** A timed harness span around one public call into the program. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startMs: Long, endMs: Long, durS: Double)

/** Task counters summed over one stage. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var spill = 0L; var outputRows = 0L
  var peakExecMem = 0L
  var submitted = 0L; var completed = 0L
}

final case class JobRec(module: String, startMs: Long, var endMs: Long,
                        span: String, exec: Option[Long], stages: Seq[Int])

/** One SQL execution: the module of the call that started it, and, once
  * it has ended, the cost of its physical plan by the module that built
  * each node. */
final case class ExecRec(module: String, startMs: Long, var endMs: Long,
                         var cost: Map[String, ModuleCost] = Map.empty)

/** What the plan nodes one module built did in one execution. `opMs` is
  * operator time from the nodes' SQL metrics; it only weighs how the
  * execution's task time is split between modules. */
final class ModuleCost {
  var opMs = 0.0
  var shuffleWrite = 0L; var input = 0L; var spill = 0L; var output = 0L
}

object Trace {
  val Modules: Seq[String] = Seq("retention", "sources", "operators",
    "functions", "registry", "bench", "unattributed")

  /** Spans whose time is the measured latency of an operation. */
  val Measured: Set[String] = Set("Protocol.run", "construct", "count")

  /** The module of one stack frame, if it belongs to the program
    * (`graft.`) or to this harness (`graftbench.` → `bench`). */
  def moduleOfFrame(frame: String): Option[String] =
    if (frame.startsWith("graftbench.")) Some("bench")
    else if (frame.startsWith("graft.")) Some(packageModule(frame.stripPrefix("graft.")))
    else None

  /** The module of a call-site long form: its first program frame. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).flatMap(moduleOfFrame).nextOption()
      .getOrElse("unattributed")

  /** Sub-packages map to themselves; the top-level `graft` objects
    * (query registries, QueryHelpers, Tables) are the registry; the
    * small plans, streaming and multimodal packages fold into the
    * module whose work they do. */
  private def packageModule(rest: String): String = {
    val seg = rest.takeWhile(_ != '.')
    if (seg.headOption.exists(_.isUpper)) "registry"
    else seg match {
      case "retention" | "sources" | "operators" | "functions" | "registry" => seg
      case "plans" | "streaming" => "operators"
      case "multimodal" => "functions"
      case _ => "registry"
    }
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.toSeq.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Splits a finished physical plan's cost between modules. Spark keeps,
  * on each node and expression built through the DataFrame API, the
  * stack frame that built it (its origin); a node's module is the first
  * program frame among its own and its expressions' origins, and a node
  * without one (exchanges, scans, sorts the planner added) takes its
  * parent's. The plan's root takes the module of the call that started
  * the execution. A whole-stage-codegen pipeline's time is shared
  * equally by the nodes fused into it; a node outside any pipeline
  * contributes its own executor-side timing metrics. */
object PlanCost {
  /** Timing metrics measured on the driver or while waiting, which are
    * not operator work. */
  private val NotOperatorTime = Set("collectTime", "buildTime", "broadcastTime",
    "fetchWaitTime", "jobCommitTime", "metadataTime", "pruningTime")

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil // counted where it ran
    case _ => p.children ++ p.subqueries
  }

  private def ownModule(p: SparkPlan): Option[String] =
    (p.origin +: p.expressions.flatMap(_.collect { case e => e.origin }))
      .iterator.flatMap(_.stackTrace.iterator.flatMap(_.iterator))
      .flatMap(f => Trace.moduleOfFrame(f.toString)).nextOption()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(m => math.max(0L, m.value)).getOrElse(0L)

  private def operatorMs(p: SparkPlan): Double =
    p.metrics.collect {
      case (k, m) if !NotOperatorTime(k) && m.metricType == "timing" => math.max(0L, m.value).toDouble
      case (k, m) if !NotOperatorTime(k) && m.metricType == "nsTiming" => math.max(0L, m.value) / 1e6
    }.sum

  def of(plan: SparkPlan, rootModule: String): Map[String, ModuleCost] = {
    val cost = mutable.HashMap[String, ModuleCost]()
    def at(m: String) = cost.getOrElseUpdate(m, new ModuleCost)
    // each pipeline's time and the modules of the nodes fused into it
    val pipes = mutable.ArrayBuffer[(Long, mutable.ArrayBuffer[String])]()
    def visit(p: SparkPlan, inherited: String, pipe: Option[mutable.ArrayBuffer[String]]): Unit = {
      val m = ownModule(p).getOrElse(inherited)
      val c = at(m)
      c.shuffleWrite += metric(p, "shuffleBytesWritten")
      c.input += metric(p, "filesSize")
      c.spill += metric(p, "spillSize")
      c.output += metric(p, "numOutputBytes")
      p match {
        case w: WholeStageCodegenExec =>
          val members = mutable.ArrayBuffer[String]()
          pipes += ((metric(w, "pipelineTime"), members))
          children(p).foreach(visit(_, m, Some(members)))
        case _: InputAdapter => children(p).foreach(visit(_, m, None))
        case _ =>
          pipe match {
            case Some(members) => members += m
            case None => c.opMs += operatorMs(p)
          }
          children(p).foreach(visit(_, m, pipe))
      }
    }
    visit(plan, rootModule, None)
    pipes.foreach { case (ms, members) =>
      members.foreach(at(_).opMs += ms.toDouble / members.size)
    }
    cost.toMap
  }
}

/** The traced run's listener. It records jobs, stages, task counters,
  * SQL executions with their plan cost, and planning times as they
  * arrive; the harness reads them after the window, when it knows the
  * measured spans. A job's caller is its SQL execution's call site, or,
  * for a job outside any SQL execution, its own call site. */
final class Tracer extends SparkListener {
  val execs = mutable.HashMap[Long, ExecRec]()
  val jobs = mutable.HashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  /** (start, duration) in ms of each analysis, optimization and
    * planning phase of every finished execution. */
  val planPhases = mutable.ArrayBuffer[(Long, Long)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = ExecRec(Trace.moduleOf(s.details), s.time, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach { rec =>
          rec.endMs = x.time
          Bus.queryOf(x).foreach { qe =>
            qe.tracker.phases.values.foreach(p => planPhases += ((p.startTimeMs, p.durationMs)))
            Try(PlanCost.of(qe.executedPlan, rec.module)).foreach(rec.cost = _)
          }
        }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    val module = exec.flatMap(execs.get).map(_.module).getOrElse(
      j.stageInfos.headOption.map(s => Trace.moduleOf(s.details)).getOrElse("unattributed"))
    jobs(j.jobId) = JobRec(module, j.time, j.time, prop(Tracer.SpanKey).getOrElse(""),
      exec, j.stageIds)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.endMs = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null) {
      val a = stages.getOrElseUpdate(t.stageId, new StageAgg)
      val tm = t.taskMetrics
      a.tasks += 1
      a.runMs += tm.executorRunTime
      a.spill += tm.diskBytesSpilled
      a.outputRows += tm.outputMetrics.recordsWritten
      a.peakExecMem = math.max(a.peakExecMem, tm.peakExecutionMemory)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(s.stageInfo.stageId, new StageAgg)
    for (x <- s.stageInfo.submissionTime; y <- s.stageInfo.completionTime) {
      a.submitted = x; a.completed = y
    }
  }
}

object Tracer {
  /** Local property naming the harness span a job was started in. */
  val SpanKey = "graftbench.span"
}
