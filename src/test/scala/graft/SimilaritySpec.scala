package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Similarity}

/** Similarity + multimodal behavior on the sf0.001 tables. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("brute-force top-k: 5 ranked neighbors per query, cos in [-1,1]") {
    val rows = Similarity.simTopkBruteforce(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10)
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      val sims = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.forall(s => s >= -1.0 && s <= 1.0))
      assert(sims.sliding(2).forall(p => p(0) >= p(1))) // descending
    }
  }

  test("lsh ann results are a subset of same-bucket exact rerank, ranked") {
    val rows = Similarity.simLshAnn(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to g.length))
      assert(g.length <= 5)
    }
  }

  test("multi-probe lsh strictly improves recall over single-probe") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val bf = pairs(Similarity.simTopkBruteforce(spark, dir))
    val sp = pairs(Similarity.simLshAnn(spark, dir))
    val mp = pairs(Similarity.simLshMultiprobe(spark, dir))
    val rSp = (bf & sp).size.toDouble / bf.size
    val rMp = (bf & mp).size.toDouble / bf.size
    assert(rMp >= rSp, s"multiprobe $rMp < singleprobe $rSp")
    assert(sp.subsetOf(mp) || rMp > rSp) // more probes never lose candidates
  }

  test("ANN rerank runs through the native TopKPerKeyExec, not a full sort") {
    // The rerank contract (VERDICT r7 #4): the scored candidate relation
    // is capped by the bounded-heap operator; the only Sort+Window in the
    // plan runs ABOVE it, over the ≤ k-per-query survivors.
    Seq(
      Similarity.simTopkBruteforce(spark, dir),
      Similarity.simLshAnn(spark, dir),
      Similarity.simLshMultiprobe(spark, dir),
      Similarity.simPqAnn(spark, dir),
      Similarity.simIvfPqAnn(spark, dir),
    ).foreach { df =>
      // collect() does not traverse into AdaptiveSparkPlanExec — unwrap it
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val topks = plan.collect { case t: graft.plans.TopKPerKeyExec => t }
      assert(topks.nonEmpty, s"no TopKPerKeyExec in:\n$plan")
      // no Sort anywhere BELOW the partial top-k (the scored relation is
      // never sorted); the rank window's sort sits above the final phase
      val partial = topks.last // deepest = partial phase
      val sortsBelow = partial.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sortsBelow.isEmpty,
        s"Sort below the partial TopKPerKeyExec:\n$plan")
    }
  }

  test("centroid aggregator: per-label mean of 2-dim vectors; other " +
      "lengths fail") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def centroids(rows: Seq[(Int, Seq[Float])]): Map[Int, Seq[Double]] =
      rows.toDF("label", "embedding")
        .groupBy(col("label"))
        .agg(graft.functions.CentroidAggregator.centroid(2)(col("embedding"))
          .as("c"))
        .collect().map(r => r.getAs[Int]("label") -> r.getSeq[Double](1).toSeq)
        .toMap
    val got = centroids(Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)),
      (1, Seq(2.0f, 2.0f))))
    assert(got(0) == Seq(2.0, 4.0))
    assert(got(1) == Seq(2.0, 2.0))
    for (bad <- Seq(Seq(1.0f), Seq(1.0f, 2.0f, 3.0f))) {
      val e = intercept[Exception](
        centroids(Seq((0, Seq(1.0f, 3.0f)), (0, bad))))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(msgs.exists(_.contains(
          s"2-dim embeddings got a vector of length ${bad.length}")),
        msgs.mkString(" / "))
    }
  }

  test("mapPartitions decode agrees with the column-expression twin") {
    val colSide = Multimodal.mmDecodeMeta(spark, dir)
    val mpSide = Multimodal.decodePartitions(
      Multimodal.withPayload(spark, dir)).toDF()
    assert(colSide.exceptAll(mpSide).count() == 0)
    assert(mpSide.exceptAll(colSide).count() == 0)
    assert(mpSide.count() > 0)
  }

  test("ivf ann: 4 probe lists per query, candidates only from those lists") {
    val ivf = Similarity.simIvfAnn(spark, dir).collect()
    assert(ivf.nonEmpty)
    // ≤5 ranked results per query, ranks contiguous from 1
    ivf.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size))
    }
    // recall vs brute force: probing 4/16 lists must recover a usable
    // fraction of the true top-5 (corpus is near-orthogonal → hard)
    val brute = Similarity.simTopkBruteforce(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val got = ivf.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(s"ivf recall vs brute force: $recall")
    assert(recall >= 0.2, s"recall $recall")
  }

  test("k-means-trained ivf: Lloyd rounds converge to usable recall") {
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Similarity.simTopkBruteforce(spark, dir).collect())
    val trained = pairs(Similarity.simIvfKmeansAnn(spark, dir).collect())
    val recall = (brute & trained).size.toDouble / brute.size
    info(s"trained-ivf recall vs brute force: $recall")
    // near-orthogonal random corpus: training can't manufacture cluster
    // structure, but the trained codebook must stay in the seeded range
    assert(recall >= 0.5, s"recall $recall")
    // zero Lloyd rounds must reduce to the seeded search exactly
    val zero = pairs(Similarity.simIvfKmeansAnn(spark, dir, iters = 0).collect())
    val seeded = pairs(Similarity.simIvfAnn(spark, dir).collect())
    assert(zero == seeded, "iters=0 must equal the seeded IVF")
  }

  test("real PNG decode: imageio-parsed dims equal the generator's intent") {
    val rows = Multimodal.mmDecodeReal(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == 1 + (id % 16).toInt)
      assert(r.getAs[Int]("height") == 1 + ((id / 16) % 16).toInt)
      assert(r.getAs[String]("fmt") == "png")
    }
  }

  test("frame sample: every 2nd frame, ts = idx/25") {
    val rows = Multimodal.mmFrameSample(spark, dir).collect()
    assert(rows.forall(_.getAs[Int]("frame_idx") % 2 == 0))
    assert(rows.forall(r =>
      r.getAs[Double]("frame_ts") == r.getAs[Int]("frame_idx") / 25.0))
  }

  test("semantic prune: full corpus covered, keep-lowest rule holds, " +
      "and tau=1.01 prunes nothing") {
    val rows = Similarity.simSemanticPrune(spark, dir).collect()
    val corpus = Tables.t(spark, dir, "embeddings").count()
    assert(rows.length.toLong == corpus,
      "every vector must appear exactly once with a keep verdict")
    val dropped = rows.filter(_.getAs[Int]("keep") == 0)
    // a dropped vector records the cosine that evicted it, above tau
    dropped.foreach { r =>
      assert(r.getAs[Double]("dup_cos") >= Similarity.SemanticPruneTau)
    }
    // kept vectors carry no dup_cos
    rows.filter(_.getAs[Int]("keep") == 1).foreach(r =>
      assert(r.isNullAt(r.fieldIndex("dup_cos"))))
    // keep-lowest determinism: rerunning yields the identical verdict set
    val again = Similarity.simSemanticPrune(spark, dir).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // an impossible tau keeps everything (cos is capped at 1)
    val none = Similarity.simSemanticPrune(spark, dir, tau = 1.01)
      .filter(org.apache.spark.sql.functions.col("keep") === 0).count()
    assert(none == 0L)
  }

  test("mm_shot_boundary: decoded-pixel cuts reproduce the planted " +
      "shot structure for every clip") {
    val rows = Multimodal.mmShotBoundary(spark, dir).collect()
    assert(rows.length ==
      graft.Tables.t(spark, dir, "documents").count())
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nf, sl) = (2 + (id % 7), 2 + (id % 3))
      assert(r.getAs[Long]("n_frames") == nf, s"doc $id")
      // the engine derived this count from REAL decoded pixels; the
      // planted structure says exactly ceil(nf / sl) shots
      assert(r.getAs[Long]("n_shots") == (nf + sl - 1) / sl, s"doc $id")
    }
  }

  test("IVF index survives persist + reload: restored artifact answers " +
      "identically with zero corpus passes") {
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.toList).sortBy(_.toString).toList
    Similarity.buildIvfIndex(spark, dir)
    val fresh = canon(Similarity.simIvfAnn(spark, dir).collect())
    val freshPrune = canon(Similarity.simSemanticPrune(spark, dir).collect())
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvfIndex(spark, dir, path)
    // evict the in-session index entirely, then restore from parquet —
    // the restart a memoized cache can't survive
    graft.SessionArtifacts.release(spark, Some(dir), Some(Similarity.Owner))
    Similarity.loadIvfIndex(spark, dir, path)
    assert(canon(Similarity.simIvfAnn(spark, dir).collect()) == fresh)
    assert(canon(Similarity.simSemanticPrune(spark, dir).collect())
      == freshPrune)
  }
}
