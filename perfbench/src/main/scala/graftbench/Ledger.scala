package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query span ledger of the traced run. Registered as a Spark
  * listener and a `QueryExecutionListener`; it buffers the events of
  * one query in memory, and [[take]] turns them into that query's
  * layer split and spans once the listener bus has been drained.
  *
  * Span tree of one query: query -> build -> job -> stage for jobs
  * the builder runs while it constructs the DataFrame, and
  * query -> analysis/optimization/planning/execute -> job -> stage for
  * the final `noop` write. */
final class Ledger(slots: Int) extends SparkListener with QueryExecutionListener {
  import Ledger._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val execs = mutable.LinkedHashMap[Long, Array[Long]]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs += Job(e.jobId, exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) =
      new Stage(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber()))
      .foreach(_.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Stage(e.stageId, info.launchTime))
    s.tasks += 1
    s.durMs += info.finishTime - info.launchTime
    s.waitMs += math.max(0L, info.launchTime - s.submitted)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteNs += m.shuffleWriteMetrics.writeTime
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execs(s.executionId) = Array(s.time, -1L) }
    case x: SparkListenerSQLExecutionEnd =>
      synchronized { execs.get(x.executionId).foreach(_(1) = x.time) }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Drops everything buffered so far (events of untimed work). */
  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); execs.clear(); qes.clear()
  }

  /** The layer split and spans of the query that ran between epoch
    * milliseconds `t0` (builder called), `t1` (builder returned) and
    * `t2` (write returned). `analyzed` is where Spark's planning
    * tracker ends the write command's analysis: the writer analyses
    * the command on the DataFrame's own tracker, which stamps only the
    * end, so that analysis is counted from `t1` and includes the
    * writer's sink lookup. Call only after the listener bus drained. */
  def take(query: String, t0: Long, t1: Long, t2: Long, analyzed: Long)
      : (Map[String, Any], Seq[Map[String, Any]]) = synchronized {
    // the final write is the last SQL execution of the query
    val writeExec = execs.keys.lastOption
    val writeQe = writeExec.flatMap(id => qes.find(_.id == id)).orElse(qes.lastOption)
    val phases = writeQe.map(_.tracker.phases).getOrElse(Map.empty)
    def phaseMs(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val commandAnalysisMs = math.max(0L, analyzed - t1)
    // Spark opens the execution before it optimizes and plans the
    // command, so execution proper starts where the last phase ends.
    val (execStart, execEnd) = writeExec.map(execs(_)).map { a =>
      val planned = phases.values.map(_.endTimeMs).maxOption.getOrElse(a(0))
      (math.min(math.max(a(0), planned), a(1)), a(1))
    }.getOrElse((t2, t2))
    val (execJobs, buildJobs) = jobs.partition(j => j.execId.isDefined && j.execId == writeExec)
    val execStageIds = execJobs.flatMap(_.stageIds).toSet
    val all = stages.values.toSeq
    val execStages = all.filter(s => execStageIds(s.id))
    def sum(ss: Seq[Stage])(f: Stage => Long) = ss.map(f).sum

    val ops = mutable.Map[String, Double]().withDefaultValue(0.0)
    qes.foreach(q => operatorTimes(q.executedPlan, ops))
    val execMs = math.max(0L, execEnd - execStart)
    val row = Map[String, Any](
      "build_jobs" -> buildJobs.size,
      "analysis_ms" -> (commandAnalysisMs + phaseMs("analysis")),
      "optimization_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "exec_ms" -> execMs,
      "exec_jobs" -> execJobs.size,
      "exec_stages" -> execStages.size,
      "tasks" -> sum(all)(_.tasks),
      "task_run_ms" -> sum(all)(_.runMs),
      "task_cpu_ms" -> sum(all)(_.cpuNs) / 1e6,
      "task_wait_ms" -> sum(all)(_.waitMs),
      "exec_task_ms" -> sum(execStages)(_.durMs),
      "slots" -> slots,
      "shuffle_write_bytes" -> sum(all)(_.shWriteBytes),
      "shuffle_read_bytes" -> sum(all)(_.shReadBytes),
      "shuffle_fetch_wait_ms" -> sum(all)(_.fetchWaitMs),
      "shuffle_write_ms" -> sum(all)(_.shWriteNs) / 1e6,
      "spill_bytes" -> sum(all)(_.spillBytes),
      "gc_task_ms" -> sum(all)(_.gcMs),
      "op_scan_ms" -> ops("scan"),
      "op_agg_ms" -> ops("agg"),
      "op_sort_ms" -> ops("sort"))

    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    def span(name: String, start: Long, end: Long, parent: String): Unit =
      spans += Map("query" -> query, "name" -> name, "start_ms" -> start,
        "end_ms" -> end, "parent" -> parent)
    span("query", t0, t2, null)
    span("build", t0, t1, "query")
    span("analysis", t1, t1 + commandAnalysisMs, "query")
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => span(p, s.startTimeMs, s.endTimeMs, "query"))
    }
    span("execute", execStart, execEnd, "query")
    jobs.foreach { j =>
      val parent = if (execJobs.contains(j)) "execute" else "build"
      span(s"job:${j.id}", j.start, j.end, parent)
      all.filter(s => j.stageIds.contains(s.id)).foreach { s =>
        span(s"stage:${s.id}", s.submitted, s.completed, s"job:${j.id}")
      }
    }
    clear()
    (row, spans.toSeq)
  }

  /** Sums the executed plan's scan, aggregate and sort time metrics
    * (milliseconds), looking through adaptive and query-stage wrappers
    * and skipping reused exchanges, which would count a subtree twice. */
  private def operatorTimes(plan: SparkPlan, acc: mutable.Map[String, Double]): Unit = {
    def ms(name: String): Double = plan.metrics.get(name).map { m =>
      if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
    }.getOrElse(0.0)
    acc("scan") += ms("scanTime")
    acc("agg") += ms("aggTime")
    acc("sort") += ms("sortTime")
    plan match {
      case a: AdaptiveSparkPlanExec => operatorTimes(a.executedPlan, acc)
      case q: QueryStageExec => operatorTimes(q.plan, acc)
      case _: ReusedExchangeExec =>
      case p => (p.children ++ p.subqueries).foreach(operatorTimes(_, acc))
    }
  }
}

object Ledger {
  private[graftbench] final case class Job(id: Int, execId: Option[Long], start: Long,
                               stageIds: Seq[Int], var end: Long = -1L)
  private[graftbench] final class Stage(val id: Int, val submitted: Long) {
    var completed = -1L
    var tasks = 0L; var durMs = 0L; var runMs = 0L; var cpuNs = 0L
    var waitMs = 0L; var shWriteBytes = 0L; var shWriteNs = 0L
    var shReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
    var gcMs = 0L
  }
}
