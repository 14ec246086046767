package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Profile
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
    GraftSession.release(spark)
    Profile.run(spark, "index_build_dedup")(Dedup.buildIndexes(spark, dir))._2.jobs
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
