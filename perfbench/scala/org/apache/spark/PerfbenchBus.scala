package org.apache.spark

/** The one piece of the benchmark that needs Spark-internal access: the
  * live listener bus is `private[spark]`, and draining it is how the trace
  * knows every event of an op has been delivered before the next op starts
  * (instead of sleeping and hoping).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
