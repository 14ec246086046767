package org.apache.spark

/** Test access to the `private[spark]` live listener bus: a spec that
  * counts jobs or plans with its own listeners drains the bus first, so
  * every event of the actions it just ran has been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
