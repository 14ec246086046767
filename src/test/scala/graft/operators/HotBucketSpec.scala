package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The LSH hot-bucket guard: a band join is quadratic WITHIN a bucket, and
  * a real crawl drops giant boilerplate clusters into one (band, key). The
  * guard must (a) keep oversized buckets linear, (b) keep every member
  * connected to the cluster's representative, and (c) be a no-op whenever
  * no bucket exceeds the cap. The one-shuffle bucket kernel must also
  * emit exactly what the join plan it replaced emitted, for every band
  * relation the engine builds.
  */
class HotBucketSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The reference: the (band, key) stats aggregate, small-bucket
    * self-join, anchor join and union that `Dedup.bandedCandidates` ran
    * before it became one shuffle and a bucket walk. */
  private def joinPlan(bands: DataFrame, payload: String,
      cap: Int): DataFrame = {
    val stats = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("anchor"))
    val sized = bands.join(stats, Seq("band", "key"))
    val small = sized.filter(col("bn") <= cap)
    val smallPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col(s"a.$payload").as("sa"), col(s"b.$payload").as("sb"))
    val big = sized.filter(col("bn") > cap)
    val anchors = big.filter(col("doc_id") === col("anchor"))
      .select(col("band"), col("key"), col("doc_id").as("da"),
        col(payload).as("sa"))
    val bigPairs = big.filter(col("doc_id") =!= col("anchor"))
      .join(anchors, Seq("band", "key"))
      .select(col("da"), col("doc_id").as("db"), col("sa"),
        col(payload).as("sb"))
    smallPairs.unionByName(bigPairs)
  }

  /** A pair frame as a multiset of rows, payload arrays compared by value. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select("da", "db", "sa", "sb").collect().toSeq
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      })
      .groupBy(identity).view.mapValues(_.size).toMap

  test("planted 1k-copy cluster: candidates linear, not quadratic") {
    import spark.implicits._
    // one hot bucket of 1000 docs + two small buckets of 3
    val rows =
      (1L to 1000L).map(id => (id, Array.fill(8)(42L), 0, "hot")) ++
      (2001L to 2003L).map(id => (id, Array.fill(8)(7L), 1, "s1")) ++
      (3001L to 3003L).map(id => (id, Array.fill(8)(9L), 2, "s2"))
    val bands = rows.toDF("doc_id", "sig", "band", "key")
    val cand = Dedup.bandedCandidates(bands, "sig", cap = 64)
    val pairs = cand.select("da", "db").as[(Long, Long)].collect().toSet

    val hot = pairs.filter(_._2 <= 1000L)
    // star to the anchor (min doc_id): 999 pairs, not 1000*999/2 = 499500
    assert(hot.size == 999, s"hot-bucket candidates ${hot.size}")
    assert(hot.forall(_._1 == 1L), "every hot pair anchors at min doc_id")
    assert((2L to 1000L).forall(id => hot.contains((1L, id))),
      "every member stays connected to the representative")
    // small buckets stay exhaustive: C(3,2) = 3 pairs each
    assert(pairs.count(_._1 >= 2001L) == 6)
  }

  test("a bucket of exactly cap rows stays exhaustive, cap + 1 rows star; " +
      "integer keys with long payloads (the audio band shape)") {
    import spark.implicits._
    val cap = 8
    // band 0: cap rows in key 5; band 1: cap + 1 rows in key 5; band 2: a
    // lone row; ids descend within a bucket so the anchor is not the
    // first row read
    val rows =
      (1L to cap.toLong).map(id => (100 - id, id * 10, 0, 5L)) ++
      (1L to cap + 1L).map(id => (200 - id, id * 10, 1, 5L)) ++
      Seq((300L, 0L, 2, 5L))
    val bands = rows.toDF("doc_id", "fp", "band", "key")
    val cand = Dedup.bandedCandidates(bands, "fp", cap)
    assert(cand.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("da" -> "long", "db" -> "long", "sa" -> "long", "sb" -> "long"))
    val pairs = cand.as[(Long, Long, Long, Long)].collect().toSeq
    val exhaustive = pairs.filter(_._1 < 100)
    assert(exhaustive.size == cap * (cap - 1) / 2,
      s"a bucket of cap rows gives C(cap, 2) pairs: ${exhaustive.size}")
    assert(exhaustive.forall(p => p._1 < p._2))
    val star = pairs.filter(p => p._1 > 100 && p._1 < 200)
    assert(star.size == cap, s"cap + 1 rows give cap star pairs: ${star.size}")
    assert(star.forall(_._1 == 200 - (cap + 1)),
      "star pairs anchor at the bucket's min doc_id")
    // payloads travel with their doc ids
    def payloadOf(id: Long) = if (id < 100) (100 - id) * 10 else (200 - id) * 10
    assert(pairs.forall(p => p._3 == payloadOf(p._1) && p._4 == payloadOf(p._2)))
    assert(pairs.size == exhaustive.size + star.size)
    assert(multiset(cand) == multiset(joinPlan(bands, "fp", cap)))
  }

  test("kernel equals the join plan on the engine's band relations at " +
      "sf0.001 (minhash, simhash, dhash, audio fingerprint)") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    val sk = Dedup.sketches(spark, dir)
    val relations = Seq(
      ("minhash", Dedup.mBandsOf(sk), "sig"),
      ("simhash", Dedup.sBandsOf(sk), "simhash"),
      ("dhash", Multimodal.dhashBandsOf(Multimodal.dhashSketch(spark, dir)),
        "dhash"),
      ("fingerprint", Multimodal.audioBands(spark, dir), "fp"))
    // the production cap and a tiny one that forces star buckets
    for ((name, bands, payload) <- relations; cap <- Seq(Dedup.BandBucketCap, 2)) {
      val kernel = multiset(Dedup.bandedCandidates(bands, payload, cap))
      val reference = multiset(joinPlan(bands, payload, cap))
      assert(reference.nonEmpty, s"$name: empty reference at cap $cap")
      assert(kernel == reference, s"$name at cap $cap: kernel " +
        s"${kernel.values.sum} rows, reference ${reference.values.sum}")
    }
  }

  test("50k-doc corpus with a 10k-copy cluster: linear candidates, bounded time") {
    // The scale proof, end to end through the REAL minhash pipeline
    // (tokenize → shingle → signature → bands → guarded candidates):
    // 10k IDENTICAL documents all land in the same (band, key) bucket in
    // every band. Unguarded that is ~50M candidate pairs per band; the
    // guard must keep it at 9,999 star pairs (linear), every member
    // anchored to the cluster's min doc_id, inside a bounded wall time.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hotbucket50k").toString
    val cluster = (1L to 10000L).map(id =>
      (id, "the quick brown fox jumps over the lazy dog again and again"))
    val unique = (10001L to 50000L).map(id =>
      (id, s"w${id}a w${id}b w${id}c w${id}d w${id}e w${id}f"))
    (cluster ++ unique).toDF("doc_id", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashPairs(spark, tmp, cap = 64)
        .select("da", "db").as[(Long, Long)].collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // linear: 9,999 star pairs, not C(10000, 2) ≈ 50M
      assert(pairs.length == 9999, s"candidate count ${pairs.length}")
      assert(pairs.forall(_._1 == 1L), "every pair anchors at min doc_id")
      assert(pairs.map(_._2).toSet == (2L to 10000L).toSet,
        "every cluster member stays connected to the representative")
      // bounded: the unguarded join at this scale runs for many minutes
      assert(secs < 180, s"hot-bucket guard too slow: $secs s")
    } finally {
      graft.GraftSession.release(spark, Some(tmp))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("guard is a no-op when no bucket exceeds the cap (real corpus)") {
    import spark.implicits._
    val guarded = Dedup.minhashPairs(spark, dir, cap = 64)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val exhaustive = Dedup.minhashPairs(spark, dir, cap = Int.MaxValue)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(guarded == exhaustive)
    assert(guarded.nonEmpty)
  }
}
