package org.apache.spark.sql

/** Test access to the `private[sql]` shared state and the
  * `private[spark]` listener bus: how many SQL executions the session's
  * status store retains, and how many listeners the bus delivers to.
  */
object StatusStoreProbe {
  def sqlExecutions(spark: SparkSession): Long =
    spark.sharedState.statusStore.executionsCount()

  def listeners(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size
}
