package org.apache.spark

/** Access to the `private[spark]` live listener bus: code that counts
  * jobs, stages or plans with its own listeners drains the bus first, so
  * every event of the actions it just ran has been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
