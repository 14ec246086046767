package org.apache.spark.sql.execution.adaptive

import java.util.concurrent.ThreadPoolExecutor

import org.apache.spark.SparkContext

/** AQE runs its stage-completion callbacks on the JVM-wide
  * `QueryStageCreator` pool, outside any SQL execution's thread-local
  * capture. A pool thread inherits the Spark local properties of the
  * thread that started it (a SQL execution id, a job group) and keeps
  * them for its life. So a job it runs much later carries an execution
  * that has long ended: the range-bounds sample of an exchange whose
  * input has no partitions runs there, as a zero-stage job. The SQL
  * status store then re-creates that trimmed execution as one that never
  * completes, and a profile keyed by the inherited job group would count
  * the job. [[isolate]] makes the pool's threads start with empty local
  * properties.
  */
object QueryStageThreads {
  private lazy val isolated: Unit = {
    val ec = AdaptiveSparkPlanExec.executionContext
    val pool = ec.getClass.getMethod("executor").invoke(ec)
      .asInstanceOf[ThreadPoolExecutor]
    val base = pool.getThreadFactory
    pool.setThreadFactory(r => base.newThread { () =>
      SparkContext.getActive.foreach(_.localProperties.remove())
      r.run()
    })
  }

  /** Once per JVM; threads started before the first call keep what they
    * inherited, so call it before the first query. */
  def isolate(): Unit = isolated
}
