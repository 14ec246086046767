package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM),
  * built by the product's own session contract on 4 cores. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
}
