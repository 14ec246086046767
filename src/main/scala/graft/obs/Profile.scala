package graft.obs

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one call of [[Profile.run]] cost: its wall time, the Spark jobs,
  * SQL executions and completed stages that ran under its job group, and
  * the classes Janino compiled meanwhile.
  *
  * The compile counts are JVM-wide deltas (`CodegenMetrics`,
  * `CodeGenerator.compileTime`), so they include whatever another thread
  * compiled at the same time; everything else is attributed by job group.
  */
final case class Profile(key: String, wallS: Double, jobs: Int,
    sqlExecutions: Int, stages: Seq[Profile.Stage], compiles: Long,
    compileS: Double) {
  def tasks: Int = stages.map(_.tasks).sum
  def taskRunS: Double = stages.map(_.runMs).sum / 1e3
  def taskCpuS: Double = stages.map(_.cpuNs).sum / 1e9
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = stages.map(_.spillBytes).sum
}

/** The one query probe: run a body under a named job group and return
  * its [[Profile]].
  *
  * Only callers at the top of a unit of work call it: the mains, the
  * specs and the benchmark harness. Operator and pipeline code
  * (`graft.operators`, `graft.pipeline`, `graft.streaming`) never does,
  * because it would replace the caller's job group for the jobs it runs:
  * a harness that attributes jobs by its own group (perfbench's tracer
  * names one per op) would then see them as unattributed.
  */
object Profile {

  /** One completed stage attempt, summed over its tasks. */
  final case class Stage(id: Int, attempt: Int, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  private val Props = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Runs `body` with the job group and description set to `key` and
    * returns its result with its [[Profile]].
    *
    * The wall time is taken around `body` alone; the listener bus is
    * drained after it, so every event of the body's jobs is in the
    * profile. The listener works at stage level (job start, stage
    * completion, SQL execution start), never per task. The caller's job
    * group, description and interrupt flag are restored and the listener
    * removed on every exit, also when `body` throws (the exception
    * propagates). Threads that `body` starts inherit the group, so their
    * jobs count; jobs that other threads run under their own groups
    * meanwhile do not, and neither do the jobs of a nested call, which
    * run under its own key.
    */
  def run[T](spark: SparkSession, key: String)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val saved = Props.map(k => k -> sc.getLocalProperty(k))
    var jobs, sqlExecutions = 0
    val stageIds = mutable.HashSet.empty[Int]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (e.properties != null && e.properties.getProperty(Props.head) == key) {
          jobs += 1
          stageIds ++= e.stageIds
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val (s, m) = (e.stageInfo, e.stageInfo.taskMetrics)
          if (stageIds(s.stageId) && m != null)
            stages += Stage(s.stageId, s.attemptNumber(), s.numTasks,
              m.executorRunTime, m.executorCpuTime,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(key) =>
          synchronized(sqlExecutions += 1)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(key, key, interruptOnCancel = false)
      def compiled = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val (compiles0, compileNs0) = compiled
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val (compiles, compileNs) = compiled
      ListenerBusDrain.drain(sc)
      (result, listener.synchronized(Profile(key, wallS, jobs, sqlExecutions,
        stages.toList, compiles - compiles0, (compileNs - compileNs0) / 1e9)))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
