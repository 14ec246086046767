package org.apache.spark.sql

/** Test access to the `private[sql]` shared state: how many SQL
  * executions the session's status store retains.
  */
object StatusStoreProbe {
  def sqlExecutions(spark: SparkSession): Long =
    spark.sharedState.statusStore.executionsCount()
}
