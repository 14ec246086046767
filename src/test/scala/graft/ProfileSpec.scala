package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.StatusStoreProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Profile

/** The contract of the query probe: jobs are attributed by job group, the
  * caller's group and description survive every exit, no listener is
  * left behind, and stage-level shuffle bytes reach the profile.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def group = (spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
    spark.sparkContext.getLocalProperty("spark.job.description"))

  test("a job that another thread runs under its own group during the " +
      "body is not counted") {
    val sc = spark.sparkContext
    val (go, done) = (new CountDownLatch(1), new CountDownLatch(1))
    // started before the body, so it inherits nothing from it
    val other = new Thread(() => {
      sc.setJobGroup("profile-spec-other", "other")
      go.await(1, TimeUnit.MINUTES)
      try sc.parallelize(1 to 8, 2).count() finally done.countDown()
    })
    other.start()
    val (n, p) = Profile.run(spark, "profile-spec-own") {
      go.countDown()
      assert(done.await(1, TimeUnit.MINUTES), "the other thread's job hung")
      sc.parallelize(1 to 4, 2).count()
    }
    other.join()
    assert(n == 4 && p.key == "profile-spec-own" && p.wallS > 0)
    assert(p.jobs == 1 && p.stages.size == 1 && p.tasks == 2, p)
  }

  test("the caller's job group and description are back after a normal " +
      "return and after a throwing body, and the listener is removed") {
    val listeners = StatusStoreProbe.listeners(spark)
    spark.sparkContext.setJobGroup("profile-spec-caller", "the caller's work")
    try {
      assert(Profile.run(spark, "profile-spec-key")(group)._1 ==
        (("profile-spec-key", "profile-spec-key")))
      assert(group == (("profile-spec-caller", "the caller's work")))
      val e = intercept[IllegalStateException](
        Profile.run(spark, "profile-spec-throws") {
          spark.sparkContext.parallelize(1 to 4, 2).count()
          throw new IllegalStateException("body failed")
        })
      assert(e.getMessage == "body failed")
      assert(group == (("profile-spec-caller", "the caller's work")))
    } finally spark.sparkContext.clearJobGroup()
    Profile.run(spark, "profile-spec-key")(()) // a caller without a group
    assert(group == ((null, null)))
    assert(StatusStoreProbe.listeners(spark) == listeners)
  }

  test("a query with an exchange reports shuffle write > 0, and a " +
      "scan-only count reports 0") {
    val ids = spark.range(0, 10000, 1, 4)
    val (_, exchange) = Profile.run(spark, "profile-spec-exchange")(
      ids.selectExpr("id % 7 AS k").groupBy("k").count().collect())
    assert(exchange.shuffleWriteBytes > 0 && exchange.shuffleReadBytes > 0 &&
      exchange.sqlExecutions == 1, exchange)
    val (n, scan) = Profile.run(spark, "profile-spec-scan")(ids.rdd.count())
    assert(n == 10000 && scan.jobs == 1 && scan.tasks == 4, scan)
    assert(scan.shuffleWriteBytes == 0 && scan.shuffleReadBytes == 0, scan)
  }
}
