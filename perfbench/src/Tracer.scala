package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Records what Spark ran, through public listener APIs only, so the
  * harness can attribute the work of a timed window to engine layers
  * after the fact:
  *
  *   - SQL executions (start/end) from the listener bus, each with the
  *     layer its physical plan belongs to (see [[Tracer.layerOf]]);
  *   - the `QueryExecutionListener` callbacks: action name, planning-tracker
  *     phase times, layer of the optimized plan and the final plan's row
  *     count. A `QueryExecution` carries no execution id, so these are
  *     placed in time, by the end of their last planning phase;
  *   - jobs, tied to their execution through `spark.sql.execution.id`;
  *     a job without one (the per-partition jobs of `toLocalIterator`
  *     run after the execution scope has closed) belongs to the latest
  *     execution started before it, as the caller is one thread;
  *   - completed stages with their task-metric totals.
  *
  * Listener callbacks arrive on the bus thread; readers call [[drain]]
  * first and then only read.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val execs = new ConcurrentHashMap[Long, Exec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[Qe]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.executionId, s.time, layerOf(s.physicalPlanDescription)))
      touch()
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.end = s.time); touch()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, e.time, exec, e.stageIds))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time); touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.stageId,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.diskBytesSpilled + m.memoryBytesSpilled,
      recordsRead = m.inputMetrics.recordsRead,
      bytesWritten = m.outputMetrics.bytesWritten,
      jdbc = i.rddInfos.exists(_.name.contains("JDBC"))))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val at = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
    qes.add(Qe(at, funcName, phases.map(_.durationMs).sum,
      layerOf(qe.optimizedPlan.toString), topRows(qe)))
    touch()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()

  /** Wait until the bus has been quiet for `quietMs` (at most `maxMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - lastEvent.get() < quietMs &&
      System.currentTimeMillis() - t0 < maxMs) Thread.sleep(20)
  }

  /** Everything that started inside `[from, to]`, jobs tied to executions. */
  def window(from: Long, to: Long): Window = {
    val ex = execs.values.asScala.filter(e => e.start >= from && e.start <= to)
      .toSeq.sortBy(_.start)
    val js = jobs.values.asScala.filter(j => j.start >= from && j.start <= to)
      .toSeq.sortBy(_.start)
    val owner: Job => Long = j =>
      if (j.exec >= 0) j.exec
      else ex.filter(_.start <= j.start).lastOption.map(_.id).getOrElse(-1L)
    val qs = qes.asScala.filter(q => q.at >= from && q.at <= to).toSeq
    Window(from, to, ex, js.groupBy(owner), js, qs, stages.asScala.toMap)
  }
}

object Tracer {
  final case class Exec(id: Long, start: Long, layer: String) {
    @volatile var end: Long = start
  }
  final case class Job(id: Int, start: Long, exec: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = start
  }
  final case class Stage(id: Int, submitted: Long, completed: Long, shuffleWrite: Long,
      spill: Long, recordsRead: Long, bytesWritten: Long, jdbc: Boolean)
  final case class Qe(at: Long, funcName: String, planMs: Long, layer: String, topRows: Long)

  /** The layer an execution belongs to, from the plan it ran. Order
    * matters: the Merkle bucket summary also full-outer-joins, and every
    * sink re-runs the diff join under its own projection. */
  def layerOf(plan: String): String =
    if (plan.contains("InsertIntoHadoopFsRelationCommand") ||
      plan.contains("WriteFiles")) "pin"
    else if (plan.contains("b_s1")) "merkle"
    else if (plan.contains("UPDATED[Before]")) "console"
    else if (plan.contains("<tr><td>") || plan.contains("inlineStr")) "report"
    else if (plan.contains("FullOuter")) "changed_count"
    else "other"

  /** Rows out of the topmost node of the final plan that counts them;
    * -1 if none does. Adaptive plans hide their stages' plans from
    * `children`, so those are unwrapped on the way down. */
  private def topRows(qe: QueryExecution): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(qe.executedPlan).iterator.flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).nextOption().getOrElse(-1L)
  }

  final case class Window(from: Long, to: Long, execs: Seq[Exec],
      jobsByExec: Map[Long, Seq[Job]], jobs: Seq[Job], qes: Seq[Qe],
      stages: Map[Int, Stage]) {

    /** Wall time of an execution, including jobs it owns that ran after
      * its scope closed (lazy iterators). */
    def wallMs(e: Exec): Long = {
      val js = jobsByExec.getOrElse(e.id, Nil)
      math.max(e.end, if (js.isEmpty) e.end else js.map(_.end).max) - e.start
    }

    def execsIn(layers: String*): Seq[Exec] = execs.filter(e => layers.contains(e.layer))

    def qesIn(layers: String*): Seq[Qe] = qes.filter(q => layers.contains(q.layer))

    def wallS(layers: String*): Double = execsIn(layers: _*).map(wallMs).sum / 1000.0

    def planS(layers: String*): Double = qesIn(layers: _*).map(_.planMs).sum / 1000.0

    private def stagesOf(js: Seq[Job]): Seq[Stage] =
      js.flatMap(_.stageIds).distinct.flatMap(stages.get)

    def stagesOfLayers(layers: String*): Seq[Stage] =
      stagesOf(execsIn(layers: _*).flatMap(e => jobsByExec.getOrElse(e.id, Nil)))

    def allStages: Seq[Stage] = stagesOf(jobs)

    /** Window time covered by no job at all: driver-side work. */
    def driverMs: Long = {
      val iv = jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (to - from) - covered
    }
  }
}
