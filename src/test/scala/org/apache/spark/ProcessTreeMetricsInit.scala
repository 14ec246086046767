package org.apache.spark

/** Test access to the `private[spark]` process-tree metrics getter. Its
  * first use, at the executor's first heartbeat, forks `getconf PAGESIZE`
  * once per JVM; a spec that counts the processes an action starts forces
  * it first, so the count holds the action's own processes only.
  */
object ProcessTreeMetricsInit {
  def force(): Unit = executor.ProcfsMetricsGetter.pTreeInfo
}
