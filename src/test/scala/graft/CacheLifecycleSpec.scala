package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusPipeline, Dedup, Multimodal}

/** GraftSession.release: the session's operator artifacts (Dedup
  * signature/pair indexes, CorpusPipeline cleaned corpus and the rest of
  * [[SessionArtifacts]]) must unpersist their storage blocks and evict
  * their entries on release — a long-lived session must not pin executor
  * memory forever — and every query must still be correct afterwards
  * (the next consumer rebuilds). Nor may the session's status store keep
  * every run's plans.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("release unpersists and evicts all graft-pinned blocks") {
    val sc = spark.sparkContext
    // clean slate: on the shared test session another suite may already
    // have built (and pinned) this corpus's indexes, which would make
    // `during -- before` empty on suite-order grounds alone
    GraftSession.release(spark)
    val before = sc.getPersistentRDDs.keySet

    val pairsBefore = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    Dedup.dedupSimhash(spark, dir).count()
    CorpusPipeline.corpusClean(spark, dir).count()
    Multimodal.mmDhashNeardup(spark, dir).count() // pins the dhash sketch

    val during = sc.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty,
      "building the indexes must pin storage blocks")

    GraftSession.release(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(during -- before).isEmpty,
      s"graft blocks survived release: ${after.intersect(during -- before)}")

    // releasing twice is a no-op, and queries rebuild correctly
    GraftSession.release(spark)
    val pairsAfter = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(pairsAfter == pairsBefore)
    GraftSession.release(spark)
  }

  test("release(dir) leaves other corpora's caches pinned") {
    val sc = spark.sparkContext
    GraftSession.release(spark) // clean slate
    val base = sc.getPersistentRDDs.keySet
    Dedup.dedupMinhashLsh(spark, "/root/testdata/sf0.001").count()
    val withA = sc.getPersistentRDDs.keySet
    Dedup.dedupMinhashLsh(spark, "/root/testdata/sf0.01").count()
    val withBoth = sc.getPersistentRDDs.keySet
    assert((withBoth -- withA).nonEmpty)

    GraftSession.release(spark, Some("/root/testdata/sf0.01"))
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(withBoth -- withA).isEmpty,
      "released corpus blocks must be gone")
    assert((withA -- base).subsetOf(after),
      "unreleased corpus blocks must survive")
    GraftSession.release(spark)
  }

  test("release frees the cluster memo's checkpoint blocks too") {
    val sc = spark.sparkContext
    GraftSession.release(spark)
    val base = sc.getPersistentRDDs.keySet
    graft.operators.Curation.dedupClusters(spark, dir).count()
    val during = sc.getPersistentRDDs.keySet
    assert((during -- base).nonEmpty,
      "the converged-labels memo must hold storage (checkpoint RDD)")
    GraftSession.release(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(during -- base).isEmpty,
      s"cluster memo blocks survived release: ${after.intersect(during -- base)}")
  }

  test("release evicts KafkaReplay's driver-side partition logs (r10 " +
      "advice: one full replayed event log leaked per cycled session)") {
    import graft.streaming.KafkaReplay
    GraftSession.release(spark)
    assert(!KafkaReplay.isCachedFor(spark))
    KafkaReplay.load(dir, 2) // materialize under SparkSession.active
    assert(KafkaReplay.isCachedFor(spark),
      "load must memoize the replay log for this session")
    GraftSession.release(spark, Some("/some/other/dir"))
    assert(KafkaReplay.isCachedFor(spark),
      "releasing another corpus must not evict this fixture's log")
    GraftSession.release(spark, Some(dir))
    assert(!KafkaReplay.isCachedFor(spark),
      "release(dir) must evict the replay log for that fixture")
    KafkaReplay.load(dir, 2)
    GraftSession.release(spark) // the release-everything flavor
    assert(!KafkaReplay.isCachedFor(spark))
  }

  test("a long-lived session's status store keeps at most one SQL " +
      "execution") {
    import spark.implicits._
    for (n <- 1 to 3) Seq(n).toDF("n").collect()
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    // the store trims itself asynchronously once the events are in
    def retained = org.apache.spark.sql.StatusStoreProbe.sqlExecutions(spark)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (retained > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(retained <= 1, s"$retained SQL executions retained")
  }

  test("session ids are stable per session and distinct across sessions") {
    val a = GraftSession.sessionId(spark)
    assert(a == GraftSession.sessionId(spark))
    val s2 = spark.newSession()
    assert(GraftSession.sessionId(s2) != a)
  }
}
