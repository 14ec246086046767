package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-18 contracts: incremental IVF index maintenance (VERDICT r17
  * #5 — admit a batch into the persisted index without re-clustering,
  * provably identical to a full rebuild) and the probe-set broadcast
  * cache's explicit destroy-on-release lifecycle (ADVICE r17 — the
  * WeakHashMap self-cleanup never fired because TorrentBroadcast pins
  * the weak key strongly in the driver BlockManager).
  */
class Round18Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("incremental IVF admission: updating the persisted base index " +
      "equals a full rebuild — assignments, radii, and search results") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_incr").toString
    // backfill: persist an index over the base corpus only
    Similarity.saveIvfIndexWhere(spark, dir, tmp, !Similarity.incrBatchCond)
    val nBase = spark.read.parquet(s"$tmp/assigned").count()
    // admit the late-arriving batch WITHOUT re-clustering
    Similarity.updateIvfIndex(spark, dir, tmp, Similarity.incrBatchCond)
    // serve the updated artifact and query it
    Similarity.loadIvfIndex(spark, dir, tmp)
    val annIncr = Similarity.simIvfAnn(spark, dir)
      .collect().map(_.toSeq).toSet
    val assignedIncr = spark.read.parquet(s"$tmp/assigned")
      .select(col("vec_id"), col("cid"), round(col("ccos"), 6))
      .collect().map(_.toSeq).toSet
    val radiiIncr = spark.read.parquet(s"$tmp/radii")
      .select(col("r_cid"), round(col("radius"), 6))
      .collect().map(_.toSeq).toSet

    // fresh full rebuild over base+batch in one pass
    graft.SessionArtifacts.release(spark, Some(dir), Some(Similarity.Owner))
    val (_, assignedFull, radiiFull) = Similarity.ivfIndex(spark, dir)
    val annFull = Similarity.simIvfAnn(spark, dir)
      .collect().map(_.toSeq).toSet
    val assignedFullSet = assignedFull
      .select(col("vec_id"), col("cid"), round(col("ccos"), 6))
      .collect().map(_.toSeq).toSet
    val radiiFullSet = radiiFull
      .select(col("r_cid"), round(col("radius"), 6))
      .collect().map(_.toSeq).toSet

    assert(nBase < assignedFullSet.size,
      "the base index must be a strict subset — the batch must be nonempty")
    assert(assignedIncr == assignedFullSet,
      "incremental per-vector assignment must equal the full rebuild's")
    assert(radiiIncr == radiiFullSet,
      "incrementally merged radii must equal the full rebuild's")
    assert(annIncr == annFull,
      "ANN search against the updated index must equal the rebuilt index")
  }

  test("sim_ivf_incremental stats: totals reconcile with the corpus and " +
      "the batch split") {
    val stats = Similarity.simIvfIncremental(spark, dir).collect()
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val nAll = emb.count()
    val nBatch = emb.filter(Similarity.incrBatchCond).count()
    assert(nBatch > 0, "the sf0.001 fixture must contain batch vectors")
    assert(stats.map(_.getAs[Long]("n_total")).sum == nAll)
    assert(stats.map(_.getAs[Long]("n_new")).sum == nBatch)
    assert(stats.map(_.getAs[Long]("n_base")).sum == nAll - nBatch)
    stats.foreach { r =>
      val rad = r.getAs[Double]("radius")
      assert(rad >= 0.0 && rad <= math.Pi + 1e-9,
        s"radius out of angular range: $r")
      assert(r.getAs[Long]("n_total") ==
        r.getAs[Long]("n_base") + r.getAs[Long]("n_new"))
    }
  }

  test("incremental dedup admission: updating the persisted base index " +
      "equals a full rebuild — sketches, pairs, and the LSH consumers") {
    import org.apache.spark.sql.Column
    val tmp = java.nio.file.Files.createTempDirectory("dedup_incr").toString
    val isNew: Column => Column = c => c % 7 === 3
    // backfill: persist an index over the base corpus only
    Dedup.saveDedupIndexWhere(spark, dir, tmp, !isNew(col("doc_id")))
    val nBase = spark.read.parquet(s"$tmp/sketches").count()
    // admit the batch WITHOUT re-shingling the base
    Dedup.updateDedupIndex(spark, dir, tmp)
    Dedup.loadDedupIndex(spark, dir, tmp)
    val skIncr = spark.read.parquet(s"$tmp/sketches")
      .collect().map(_.toSeq).toSet
    val pairsIncr = spark.read.parquet(s"$tmp/pairs")
      .collect().map(_.toSeq).toSet
    val lshIncr = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    val admitIncr = Dedup.dedupIncremental(spark, dir)
      .collect().map(_.toSeq).toSet

    // fresh full rebuild over base+batch, persisted for the raw compare
    graft.SessionArtifacts.release(spark, Some(dir), Some(Dedup.Owner))
    val tmpFull = java.nio.file.Files.createTempDirectory("dedup_full").toString
    Dedup.saveDedupIndex(spark, dir, tmpFull)
    val skFull = spark.read.parquet(s"$tmpFull/sketches")
      .collect().map(_.toSeq).toSet
    val pairsFull = spark.read.parquet(s"$tmpFull/pairs")
      .collect().map(_.toSeq).toSet
    val lshFull = Dedup.dedupMinhashLsh(spark, dir)
      .collect().map(_.toSeq).toSet
    val admitFull = Dedup.dedupIncremental(spark, dir)
      .collect().map(_.toSeq).toSet

    assert(nBase < skFull.size,
      "the base index must be a strict subset — the batch must be nonempty")
    assert(skIncr == skFull,
      "appended sketches must equal the full rebuild's sketch table")
    assert(pairsIncr == pairsFull,
      "incrementally admitted pairs must equal the full rebuild's pairs")
    assert(lshIncr == lshFull,
      "LSH near-dup pairs against the updated index must equal rebuild")
    assert(admitIncr == admitFull,
      "batch admission decisions against the updated index must equal rebuild")
  }

  test("probe-set broadcast cache: entries are destroyed on " +
      "GraftSession.release, not left to WeakHashMap GC") {
    import spark.implicits._
    graft.GraftSession.release(spark)
    val before = graft.plans.SetMemberCountBc.cachedCount(spark)
    assert(before == 0, s"release must clear the session's entries: $before")
    val set = Array("a b c", "b c d")
    val df = Seq(Seq("a b c", "x y z")).toDF("sh")
    val n = df.select(
      graft.plans.SetMemberCountBc.column(spark, col("sh"), set).as("n"))
      .collect().head.getInt(0)
    assert(n == 1)
    assert(graft.plans.SetMemberCountBc.cachedCount(spark) == 1)
    // same array instance → same broadcast, no new entry
    df.select(graft.plans.SetMemberCountBc.column(spark, col("sh"), set))
      .collect()
    assert(graft.plans.SetMemberCountBc.cachedCount(spark) == 1)
    graft.GraftSession.release(spark)
    assert(graft.plans.SetMemberCountBc.cachedCount(spark) == 0,
      "full-session release must destroy the cached broadcasts")
  }
}
