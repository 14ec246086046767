package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestSession}

/** The shape of the round loops, seen through [[graft.obs.Profile]]: Catalyst
  * plans each loop's input once and every round is at most one small RDD
  * job, so raising a loop's round parameter adds at most one job per
  * round and never a SQL execution. Each key's whole call also stays
  * under a pinned job ceiling, and no loop leaves a persisted RDD behind
  * — on success or on failure.
  */
class LoopShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDDs persisted since `before` that are still persisted. */
  private def leaked(before: Set[Int]): Set[Int] = persisted -- before

  /** (jobs, SQL executions) of `body` plus a noop write of its result,
    * asserting that nothing stays persisted once the result is freed. */
  private def shape(key: String)(body: => DataFrame): (Int, Int) = {
    val before = persisted
    val (_, p) = graft.obs.Profile.run(spark, key) {
      val df = body
      df.write.format("noop").mode("overwrite").save()
      Curation.freeCheckpoint(df)
    }
    assert(leaked(before).isEmpty, s"$key leaked RDDs ${leaked(before)}")
    (p.jobs, p.sqlExecutions)
  }

  /** Each loop with its round parameter, and the job ceiling of one call
    * at the default parameter (local[4], sf0.01, memoized pair index). */
  private val loops: Seq[(String, Int => DataFrame, Int, Int)] = Seq(
    ("text_classifier_train",
      r => TextAnalysis.textClassifierTrain(spark, dir, r),
      TextAnalysis.ClassifierTrainRounds, 14),
    ("text_bpe_train", n => TextAnalysis.textBpeTrain(spark, dir, n),
      TextAnalysis.BpeMerges, 4),
    ("cur_doremi_mix", r => Curation.curDoremiMix(spark, dir, r),
      Curation.DoremiRounds, 14),
    ("graph_pagerank", i => Curation.graphPagerank(spark, dir, i),
      Curation.PagerankIters, 7),
    ("graph_label_prop", i => Curation.graphLabelProp(spark, dir, i),
      Curation.LabelPropIters, 11),
    ("graph_kcore", r => Curation.graphKcore(spark, dir, rounds = r),
      Curation.KCoreRounds, 8),
    ("graph_khop", i => Curation.graphKhop(spark, dir, iters = i),
      Curation.KhopIters, 9))

  private def warm(): Unit = {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    // build the memoized pair index outside the measured windows
    Dedup.dedupMinhashLsh(spark, dir).write.format("noop")
      .mode("overwrite").save()
  }

  for ((key, run, base, ceiling) <- loops) {
    test(s"$key: three more rounds add at most three jobs and no SQL " +
        s"execution; one call takes at most $ceiling jobs and leaves " +
        "nothing persisted") {
      warm()
      val (jobs, sql) = shape(key)(run(base))
      val (jobs3, sql3) = shape(key)(run(base + 3))
      info(s"$key: $jobs jobs / $sql SQL executions at $base rounds, " +
        s"$jobs3 / $sql3 at ${base + 3}")
      assert(jobs3 - jobs <= 3,
        s"$key: $jobs jobs at $base rounds, $jobs3 at ${base + 3}")
      assert(sql3 == sql,
        s"$key: $sql SQL executions at $base rounds, $sql3 at ${base + 3}")
      assert(jobs <= ceiling, s"$key: $jobs jobs, ceiling $ceiling")
    }
  }

  test("cur_dedup_clusters: the converging label loop stays within its " +
      "job ceiling and release frees its labels") {
    warm()
    graft.SessionArtifacts.release(spark, Some(dir), Some(Curation.Owner))
    val before = persisted
    // shape() frees the memoized labels' blocks: drop the memo after it
    val (jobs, _) = try shape("cur_dedup_clusters")(
      Curation.dedupClusters(spark, dir))
      finally graft.SessionArtifacts.release(spark, Some(dir),
        Some(Curation.Owner))
    info(s"cur_dedup_clusters: $jobs jobs")
    assert(jobs <= 11, s"cur_dedup_clusters: $jobs jobs, ceiling 11")
    assert(leaked(before).isEmpty,
      s"cluster labels leaked RDDs ${leaked(before)}")
  }

  test("release frees a graph result the caller still holds") {
    warm()
    val before = persisted
    val held = Curation.graphKcore(spark, dir)
    assert(leaked(before).size == 1)
    graft.SessionArtifacts.release(spark, Some(dir), Some(Curation.Owner))
    assert(leaked(before).isEmpty, "release left a held graph result pinned")
    assert(held.columns.nonEmpty)
  }

  test("a cluster loop that fails to converge throws its require message " +
      "and leaves nothing persisted") {
    // sf0.1: its pair graph has a component that is not a clique
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(big).isDirectory, s"$big absent")
    // two members of one cluster are not neighbors: diameter > 1
    val edges = Dedup.dedupMinhashLsh(spark, big).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clusters = Curation.dedupClusters(spark, big).collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)))
    assert(clusters.exists(ms => ms.exists(a => ms.exists(b =>
      a < b && !edges((a, b)) && !edges((b, a))))),
      "the fixture's pair graph has diameter <= 1")
    graft.SessionArtifacts.release(spark, Some(big), Some(Curation.Owner))
    val before = persisted
    val e = intercept[IllegalArgumentException](
      Curation.clusterLabels(spark, big, maxIter = 1))
    assert(e.getMessage.contains("did not converge in 1 iterations"),
      e.getMessage)
    assert(leaked(before).isEmpty,
      s"failed cluster loop leaked RDDs ${leaked(before)}")
    // the failure memoized nothing: the next call converges normally
    assert(Curation.dedupClusters(spark, big).count() > 0)
    GraftSession.release(spark, Some(big))
  }
}
