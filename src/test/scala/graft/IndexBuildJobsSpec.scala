package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The dedup index build runs a fixed, small number of Spark jobs: the
  * band-bucket kernel is one shuffle per band relation, so a build from
  * released caches plans the same stages every time. */
class IndexBuildJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  /** 11 jobs measured per build; the join plan it replaced ran 42-43. */
  private val ceiling = 12

  /** Jobs one index build starts, from released caches. */
  private def buildJobs(): Int = {
    val sc = spark.sparkContext
    GraftSession.release(spark)
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      Dedup.buildIndexes(spark, dir)
      ListenerBusDrain.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(counter)
  }

  test("Dedup.buildIndexes runs the same job count on every build, under " +
      "its ceiling") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    val counts = try Seq.fill(3)(buildJobs()) finally GraftSession.release(spark)
    info(s"jobs per build: ${counts.mkString(", ")}")
    assert(counts.distinct.size == 1, s"job counts differ: $counts")
    assert(counts.head <= ceiling, s"${counts.head} jobs > ceiling $ceiling")
  }
}
