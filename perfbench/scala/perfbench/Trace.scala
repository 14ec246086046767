package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of the traced phase, nested op → action → job → stage.
  *
  * - an op is one timed call of the benchmark; the bench thread sets the
  *   job group `perfbench-op-<n>` around it;
  * - an action is one SQL execution, linked to its op by the job group
  *   recorded at its start;
  * - a job is linked to its action by `spark.sql.execution.id` and to its
  *   op by the job group; jobs run from an op's window under another group
  *   count as unattributed;
  * - a stage is linked to its job by the job's stage ids, and carries the
  *   sums of its tasks' metrics.
  *
  * Everything stays in memory; `spansJson` renders the tree once, at the
  * end of the run. Times are epoch milliseconds, as the listener events
  * carry them.
  */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  import Tracer._

  private val sc = spark.sparkContext
  private val opsBuf = mutable.ArrayBuffer.empty[OpSpan]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stages = mutable.HashMap.empty[Int, StageSpan]
  private val actions = mutable.LinkedHashMap.empty[Long, ActionSpan]
  private val queries = mutable.ArrayBuffer.empty[QuerySpan]
  @volatile private var current: Option[OpSpan] = None

  def ops: Seq[OpSpan] = opsBuf.toSeq

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  /** Open an op span on the calling (bench) thread. */
  def begin(key: String): Unit = {
    val op = new OpSpan(opsBuf.size, key, s"perfbench-op-${opsBuf.size}",
      System.currentTimeMillis())
    opsBuf += op
    sc.setJobGroup(op.group, key, interruptOnCancel = false)
    current = Some(op)
  }

  /** Close the open op span; returns once every event it caused has been
    * delivered to the listeners. */
  def end(): Unit = {
    current.foreach(_.end = System.currentTimeMillis())
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    current = None
  }

  // ---- listener callbacks (listener-bus threads) -------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new JobSpan(e.jobId, e.time,
      prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id").map(_.toLong), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageSpan(e.stageInfo.stageId))
    s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageSpan(e.stageId))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        actions(s.executionId) = new ActionSpan(s.executionId, s.time,
          s.jobGroupId, s.description)
      case s: SparkListenerSQLExecutionEnd =>
        actions.get(s.executionId).foreach(_.end = s.time)
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = current.foreach { op =>
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val writes = Plans.collectWithSubqueries(plan) {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.toString
    }
    val scans = Plans.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
    synchronized {
      queries += new QuerySpan(op.index, durationNs,
        phase(QueryPlanningTracker.ANALYSIS),
        phase(QueryPlanningTracker.OPTIMIZATION),
        phase(QueryPlanningTracker.PLANNING), writes, scans)
    }
  }

  // ---- per-op views ------------------------------------------------------

  /** Everything the trace attributes to one op. */
  final class OpView(val op: OpSpan) {
    val jobs: Seq[JobSpan] = Tracer.this.jobs.values.filter(_.group.contains(op.group)).toSeq
    val unattributedJobs: Int = Tracer.this.jobs.values.count { j =>
      !j.group.contains(op.group) && j.start >= op.start && j.start <= op.end
    }
    val stages: Seq[StageSpan] =
      jobs.flatMap(_.stageIds).distinct.flatMap(Tracer.this.stages.get)
    val actions: Seq[ActionSpan] =
      Tracer.this.actions.values.filter(_.group.contains(op.group)).toSeq
    val queries: Seq[QuerySpan] = Tracer.this.queries.filter(_.op == op.index).toSeq
    def wallMs: Long = op.end - op.start
    /** Op wall time with no job of the op running. */
    def idleMs: Long = wallMs - covered(op.start, op.end, jobs.map(j => (j.start, j.end)))
    def sum(f: StageSpan => Long): Long = stages.map(f).sum
  }

  def view(op: OpSpan): OpView = synchronized { new OpView(op) }

  /** The span tree of every traced op, with each span's self time: its
    * wall time minus the part its child spans cover. */
  def spansJson(): java.util.List[AnyRef] = synchronized {
    val out = new java.util.ArrayList[AnyRef]()
    ops.foreach { op =>
      val v = new OpView(op)
      def jobJson(j: JobSpan) = {
        val st = j.stageIds.flatMap(stages.get).filter(_.start > 0)
        Json.obj("job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "self_ms" -> ((j.end - j.start) -
            covered(j.start, j.end, st.map(s => (s.start, s.end)))),
          "stages" -> Json.arr(st.map(s => Json.obj("stage" -> s.id,
            "start_ms" -> s.start, "end_ms" -> s.end, "tasks" -> s.tasks,
            "task_run_ms" -> s.runMs))))
      }
      val byAction = v.jobs.groupBy(_.execId)
      val acts = v.actions.map { a =>
        val js = byAction.getOrElse(Some(a.id), Nil)
        Json.obj("action" -> a.id, "description" -> a.desc,
          "start_ms" -> a.start, "end_ms" -> a.end,
          "self_ms" -> ((a.end - a.start) -
            covered(a.start, a.end, js.map(j => (j.start, j.end)))),
          "jobs" -> Json.arr(js.map(jobJson)))
      }
      val loose = v.jobs.filter(j => j.execId.forall(id => !v.actions.exists(_.id == id)))
      val children = v.actions.map(a => (a.start, a.end)) ++ loose.map(j => (j.start, j.end))
      out.add(Json.obj("op" -> op.index, "key" -> op.key,
        "start_ms" -> op.start, "end_ms" -> op.end,
        "self_ms" -> (v.wallMs - covered(op.start, op.end, children)),
        "actions" -> Json.arr(acts),
        "jobs_outside_actions" -> Json.arr(loose.map(jobJson))))
    }
    out
  }
}

object Tracer {
  final class OpSpan(val index: Int, val key: String, val group: String,
      val start: Long) { @volatile var end: Long = -1L }
  final class JobSpan(val id: Int, val start: Long, val group: Option[String],
      val execId: Option[Long], val stageIds: Seq[Int]) { var end: Long = -1L }
  final class ActionSpan(val id: Long, val start: Long,
      val group: Option[String], val desc: String) { var end: Long = -1L }
  final class StageSpan(val id: Int) {
    var start, end = -1L
    var tasks = 0
    var runMs, cpuNs, gcMs, inputBytes, inputRows, shuffleWrite, shuffleRead,
      fetchWaitMs, spill = 0L
  }
  final class QuerySpan(val op: Int, val durationNs: Long, val analysisMs: Long,
      val optimizationMs: Long, val planningMs: Long, val writePaths: Seq[String],
      val scanPaths: Seq[String])

  private object Plans extends AdaptiveSparkPlanHelper

  /** Length of the union of `spans`, clipped to [from, to]. */
  def covered(from: Long, to: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (s, e) =>
      (math.max(s, from), math.min(if (e < 0) to else e, to))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total, reach = 0L
    clipped.foreach { case (s, e) =>
      if (s >= reach) { total += e - s; reach = e }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}
