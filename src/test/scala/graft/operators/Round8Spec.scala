package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.Tables.t

/** Round-8 contracts: parameterized BM25 and the size-aware SCD2 merge. */
class Round8Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("bm25 honors non-default k1/b: matches a driver-side recompute") {
    val (k1, b) = (1.5, 0.4)
    val got = TextAnalysis.textBm25(spark, dir, k1 = k1, b = b).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty)
    // independent recompute from the raw corpus, plain Scala
    val texts = t(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val nDocs = texts.length.toDouble
    val avgdl = texts.map(_._2.length).sum.toDouble / nDocs
    val query = TextAnalysis.Bm25Query
    val tf: Map[(Long, String), Double] = texts.flatMap { case (id, ws) =>
      query.flatMap { q =>
        val c = ws.count(_ == q)
        if (c > 0) Some((id, q) -> c.toDouble) else None
      }
    }.toMap
    val df: Map[String, Double] =
      tf.keys.groupBy(_._2).map { case (q, ks) => q -> ks.size.toDouble }
    val expect = tf.groupBy(_._1._1).map { case (id, terms) =>
      val dl = texts.find(_._1 == id).get._2.length.toDouble
      id -> terms.map { case ((_, q), f) =>
        math.log((nDocs - df(q) + 0.5) / (df(q) + 0.5) + 1.0) *
          (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl / avgdl))
      }.sum
    }
    got.foreach { case (id, s) =>
      assert(math.abs(s - expect(id)) < 1e-6, s"doc $id: $s vs ${expect(id)}")
    }
    // and the parameters genuinely move the scores vs the defaults
    val defaults = TextAnalysis.textBm25(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.exists { case (id, s) =>
      defaults.get(id).exists(d => math.abs(d - s) > 1e-9) })
  }

  test("lm score: finite, non-positive avg ll, ppl = exp(-avg_ll), " +
      "bigram count = tokens - 1") {
    val out = TextAnalysis.textLmScore(spark, dir).cache()
    try {
      val rows = out.collect()
      assert(rows.length == t(spark, dir, "documents").count())
      rows.foreach { r =>
        if (r.isNullAt(r.fieldIndex("avg_ll"))) {
          // sub-bigram doc: kept with an explicit zero-bigram row
          assert(r.getAs[Long]("n_bigrams") == 0L)
          assert(r.isNullAt(r.fieldIndex("ppl")))
        } else {
          val (ll, ppl) = (r.getAs[Double]("avg_ll"), r.getAs[Double]("ppl"))
          assert(ll <= 0.0, s"self-trained MLE log-likelihood must be <= 0: $ll")
          assert(ppl >= 1.0 && math.abs(ppl - math.exp(-ll)) < 1e-4)
        }
      }
      val tokCounts = t(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      assert(out.join(tokCounts, "doc_id")
        .filter(col("n_bigrams") =!= col("n") - 1).isEmpty)
    } finally out.unpersist()
  }

  test("lm score keeps sub-bigram docs: n_bigrams=0, null avg_ll/ppl " +
      "(ADVICE r8 — the score-every-doc contract on corpora with short docs)") {
    val tmp = java.nio.file.Files.createTempDirectory("lmshort").toString
    import spark.implicits._
    Seq(
      (0L, "one", "en", "src0", 3L),                 // 1 token: no bigrams
      (1L, "spark fast spark", "en", "src0", 16L),
      (2L, "", "en", "src1", 0L))                    // empty text
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.textLmScore(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(0L, 1L, 2L), "every doc must get a row")
    Seq(0L, 2L).foreach { id =>
      assert(rows(id).getAs[Long]("n_bigrams") == 0L)
      assert(rows(id).isNullAt(rows(id).fieldIndex("avg_ll")))
      assert(rows(id).isNullAt(rows(id).fieldIndex("ppl")))
    }
    assert(rows(1L).getAs[Long]("n_bigrams") == 2L)
    assert(rows(1L).getAs[Double]("avg_ll") <= 0.0)
  }

  test("dhash: 64-bit strings from real decoded pixels; planted groups " +
      "surface as near-dup pairs; buckets stay under the anchor-star cap") {
    val hashes = Multimodal.mmDhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashes.nonEmpty)
    assert(hashes.values.forall(h => h.length == 64 &&
      h.forall(c => c == '0' || c == '1')))
    val pairs = Multimodal.mmDhashNeardup(spark, dir).collect()
    assert(pairs.nonEmpty, "planted groups must yield near-dup pairs")
    pairs.foreach { p =>
      val (da, db, dist) = (p.getLong(0), p.getLong(1), p.getInt(2))
      assert(da < db && dist <= Multimodal.DhashMaxDist)
      // reported distance equals the true hamming distance of the hashes
      val hd = hashes(da).zip(hashes(db)).count { case (a, b) => a != b }
      assert(hd == dist, s"pair ($da,$db): reported $dist, true $hd")
    }
    // at least one same-group (planted) pair is recovered
    assert(pairs.exists(p => p.getLong(0) / 4 == p.getLong(1) / 4))
    // oracle parity precondition: no (band, key) bucket exceeds the
    // anchor-star cap, so the exhaustive SQL band join is identical
    val buckets = Multimodal.mmDhash(spark, dir)
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"),
        col("dhash"))
      .withColumn("key", expr("substr(dhash, 1 + band * 16, 16)"))
      .groupBy("band", "key").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(buckets <= 64, s"max dhash band bucket $buckets exceeds cap")
  }

  test("scd2 merge: small changeset broadcasts, disabled broadcast " +
      "degrades to a shuffle join with identical rows") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // completed AQE stages are leaf QueryStageExec nodes, invisible to
    // plan.collect — assert on the rendered final plan instead
    def planString(df: org.apache.spark.sql.DataFrame): String =
      unwrap(df.queryExecution.executedPlan).toString
    val dfDefault = Relational.u5Scd2Merge(spark, dir)
    val expected = rows(dfDefault)
    assert(planString(dfDefault).contains("BroadcastHashJoin"),
      "small changeset should broadcast under AQE at default conf")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val dfShuffle = Relational.u5Scd2Merge(spark, dir)
      assert(rows(dfShuffle) == expected)
      assert(!planString(dfShuffle).contains("BroadcastHashJoin"),
        "over-threshold changeset must not broadcast")
    } finally spark.conf.set(key, prev)
  }

  test("q9 custdist: partitions the customer base exactly once") {
    val out = Relational.q9Custdist(spark, dir).collect()
    val nCust = t(spark, dir, "customer").count()
    // every customer lands in exactly one count bucket
    assert(out.map(_.getLong(1)).sum == nCust)
    // buckets match an independent recompute via the raw outer join
    val expect = t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
  }

  test("q10 large orders: only over-threshold orders, top-ordered, " +
      "TakeOrderedAndProject in the plan") {
    val df = Relational.q10LargeOrders(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // recomputed per-order quantity really exceeds the threshold
    val qty = t(spark, dir, "lineitem").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(qty(r.getLong(2)) > 250.0, s"order ${r.getLong(2)} under threshold")
      assert(r.getDouble(5) == qty(r.getLong(2)))
    }
    val prices = rows.map(_.getDouble(4)).toSeq
    assert(prices == prices.sorted.reverse)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "top-100 should avoid a global sort")
  }

  test("q11 sales opportunity: anti join in the plan, matches recompute") {
    val df = Relational.q11SalesOpportunity(spark, dir)
    assert(df.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "NOT EXISTS must plan as a left anti join")
    val out = df.collect().map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.nonEmpty)
    // driver-side recompute
    val cust = t(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val cents = cust.filter(_._3 > 0).map(c => math.round(c._3 * 100)).sum
    val ab = cents.toDouble / 100.0 / cust.count(_._3 > 0)
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val expect = cust
      .filter(c => c._3 > ab && !urgent.contains(c._1))
      .groupBy(_._2).map { case (nk, cs) =>
        nk -> ((cs.length.toLong,
          cs.map(c => math.round(c._3 * 100)).sum.toDouble / 100.0))
      }
    assert(out == expect)
  }

  test("knn label eval: accuracies in [0,1], counts partition the query " +
      "sample, majority vote matches a driver-side recompute") {
    val out = Similarity.simKnnLabelEval(spark, dir).collect()
    assert(out.nonEmpty)
    val emb = t(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    val nQueries = emb.count(_._1 % 20 == 0)
    assert(out.map(_.getLong(1)).sum == nQueries)
    out.foreach { r =>
      val acc = r.getDouble(3)
      assert(acc >= 0.0 && acc <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    // full driver-side recompute: vote every query, tally per label
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val preds = emb.filter(_._1 % 20 == 0).map { q =>
      val top5 = emb.filter(_._1 != q._1)
        .map(e => (e._1, e._3, cos(q._2, e._2)))
        .sortBy(e => (-e._3, e._1)).take(5)
      val pred = top5.groupBy(_._2).toSeq
        .map { case (l, vs) => (vs.length, -l) }.max match {
          case (_, negL) => -negL
        }
      (q._3, pred)
    }
    val expect = preds.groupBy(_._1).map { case (l, ps) =>
      l -> ((ps.length.toLong, ps.count(p => p._2 == p._1).toLong))
    }
    val got = out.map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("misra-gries sketch: bounded buffer under decrement/merge churn, " +
      "guaranteed heavies always survive, two-pass verify is exact") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val k = 10
    // two true heavies over a 300-key uniform tail: tail churn forces the
    // decrement path in update and the subtract path in merge; 13
    // partitions force cross-buffer merges through serialize/deserialize
    val rows = Seq.fill(3000)("h1") ++ Seq.fill(1200)("h2") ++
      (0 until 6000).map(i => s"t${i % 300}")
    val df = rows.toDF("key").repartition(13)
    val cands = df
      .agg(call_function("graft_mg_candidates", lit(k), col("key")))
      .collect()(0).getSeq[String](0)
    assert(cands.size <= k, s"buffer exceeded k: ${cands.size}")
    assert(cands == cands.sorted, "candidates must emit sorted")
    val n = rows.length
    val exact = rows.groupBy(identity).map { case (w, ws) => w -> ws.length }
    val heavies = exact.collect {
      case (w, c) if c.toLong * k > n => w
    }.toSet
    assert(heavies == Set("h1", "h2"))
    assert(heavies.subsetOf(cands.toSet),
      s"MG guarantee violated: $heavies not in $cands")
    // the two-pass pattern: exact-verify candidates, keep n*k > total
    val verified = cands.filter(c =>
      exact.getOrElse(c, 0).toLong * k > n).toSet
    assert(verified == heavies)
  }

  test("mg sketch rejects bad args at resolution time with clear errors " +
      "(ADVICE r8 — no raw ClassCastException from k or the column type)") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val strs = Seq("a", "b").toDF("key")
    // non-string tracked column -> analysis-time type error, not a CCE
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1, 2, 3).toDF("n")
        .agg(call_function("graft_mg_candidates", lit(4), col("n"))).collect()
    }
    // long literal k -> descriptive message
    val e2 = intercept[Exception] {
      strs.agg(call_function("graft_mg_candidates", lit(4L), col("key"))).collect()
    }
    assert(e2.getMessage.contains("foldable INT literal"), e2.getMessage)
    // column-valued k
    val e3 = intercept[Exception] {
      strs.agg(call_function("graft_mg_candidates", col("key"), col("key"))).collect()
    }
    assert(e3.getMessage.contains("foldable INT literal"), e3.getMessage)
    // null k
    val e4 = intercept[Exception] {
      strs.agg(call_function("graft_mg_candidates",
        lit(null).cast("int"), col("key"))).collect()
    }
    assert(e4.getMessage.contains("NULL"), e4.getMessage)
    // wrong arity
    val e5 = intercept[Exception] {
      strs.agg(call_function("graft_mg_candidates", lit(4))).collect()
    }
    assert(e5.getMessage.contains("2 arguments"), e5.getMessage)
  }

  test("dq heavy hitters: equals the exact group-by-having recompute") {
    val out = Profiling.dqHeavyHitters(spark, dir).collect()
    assert(out.nonEmpty)
    val ev = t(spark, dir, "events").groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = ev.values.sum
    val expect = ev.filter { case (_, c) => c * 8 > total }
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
    out.foreach(r => assert(
      math.abs(r.getDouble(2) - r.getLong(1).toDouble / total) < 1e-6))
  }

  test("skew report: stats match a driver recompute; salt levels the " +
      "hottest key to at most one mean-sized extra task") {
    val out = Profiling.dqSkewReport(spark, dir).collect()
    assert(out.length == 5)
    val freqs = t(spark, dir, "lineitem").groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (nRows, nKeys, maxF) =
      (freqs.values.sum, freqs.size.toLong, freqs.values.max)
    // rows are the true top-5 keys, descending, key-asc ties
    val expectTop = freqs.toSeq.sortBy { case (k, c) => (-c, k) }.take(5)
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSeq == expectTop)
    out.foreach { r =>
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((nRows, nKeys, maxF)))
      val salt = r.getLong(6)
      assert(salt == (maxF * nKeys + nRows - 1) / nRows)
      // the recommendation levels the hot key: max/salt <= mean (+1 rem)
      assert(maxF / salt <= nRows / nKeys + 1)
    }
  }

  test("containment: directed pairs match a driver-side all-pairs " +
      "recompute with the stop-shingle cap") {
    val out = Dedup.dedupContainment(spark, dir).collect()
    assert(out.nonEmpty)
    val docs = t(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    def shingleSet(ws: Seq[String]): Set[String] =
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set.empty
    val sh = docs.map { case (id, ws) => id -> shingleSet(ws) }.toMap
    val dfreq = sh.values.toSeq.flatten.groupBy(identity)
      .map { case (s, os) => s -> os.size }
    val rare = sh.map { case (id, ss) =>
      id -> ss.filter(s => dfreq(s) <= 64)
    }
    val expect = (for {
      (src, rs) <- rare.toSeq; (dst, ds) <- sh.toSeq
      if src != dst
      shared = (rs & ds).size
      if sh(src).nonEmpty && shared.toDouble / sh(src).size >= 0.9
    } yield (src, dst) ->
      math.rint(shared.toDouble / sh(src).size * 1e6) / 1e6).toMap
    val got = out.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expect(k)) < 1e-6) }
    // the operator is genuinely directed: every emitted pair scores from
    // the src side (containment of src in dst)
    assert(got.keys.forall { case (s, d) => s != d })
  }

  test("interval overlap: equals the bucket-free brute force, and the " +
      "first-shared-bucket guard emits each pair exactly once") {
    val out = RangeJoin.j9IntervalOverlap(spark, dir).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      // exactly-once: no (sa, sb) pair appears twice despite bucket fanout
      assert(rows.length ==
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).distinct.length)
      // brute-force recompute without buckets
      val sess = graft.streaming.EventConsumer.batchSessionize(spark, dir)
        .select(col("user_id"), col("session_id"),
          unix_micros(col("session_start")).as("st"),
          unix_micros(col("session_end")).as("en"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      val expect = (for {
        a <- sess; b <- sess
        if a._1 < b._1 && a._3 <= b._4 && b._3 <= a._4
      } yield ((a._1, a._2, b._1, b._2),
        (math.min(a._4, b._4) - math.max(a._3, b._3)) / 1000000L)).toMap
      val got = rows.map(r => ((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)), r.getLong(4))).toMap
      assert(got == expect)
    } finally out.unpersist()
  }

  test("temporal dim join: every order matches exactly one version, and " +
      "the version boundary routes balances correctly") {
    val out = Relational.j10TemporalDimJoin(spark, dir).cache()
    try {
      // exactly-once: validity intervals partition time per key
      assert(out.count() == t(spark, dir, "orders").count())
      assert(out.groupBy("o_orderkey").count()
        .filter(col("count") > 1).isEmpty)
      val boundary = java.sql.Date.valueOf("2000-01-01")
      val base = t(spark, dir, "customer")
        .select("c_custkey", "c_acctbal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      out.collect().foreach { r =>
        val (ck, date, bal) = (r.getLong(1), r.getDate(2), r.getDouble(4))
        val changed = ck % 10 == 3
        val expected =
          if (changed && !date.before(boundary))
            (math.round(base(ck) * 100) + 10000L).toDouble / 100.0
          else base(ck)
        assert(bal == expected,
          s"order ${r.getLong(0)} cust $ck @ $date: $bal vs $expected")
      }
    } finally out.unpersist()
  }

  test("pagerank: matches a driver-side 3-iteration power recompute") {
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "sf0.001 corpus should have planted near-dups")
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length }
    def round9(x: Double) = math.rint(x * 1e9) / 1e9
    var ranks: Map[Long, Double] = deg.map { case (n, _) => n -> 1.0 }
    for (_ <- 1 to 3) {
      ranks = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> round9(0.15 + 0.85 * es.map { case (src, _) =>
          ranks(src) / deg(src) }.sum)
      }
    }
    val out = Curation.graphPagerank(spark, dir).collect()
    assert(out.length == deg.size)
    out.foreach { r =>
      val (id, pr, d) = (r.getLong(0), r.getDouble(1), r.getLong(2))
      assert(d == deg(id))
      assert(math.abs(pr - ranks(id)) < 1e-6, s"doc $id: $pr vs ${ranks(id)}")
    }
    // emitted in rank-descending order
    val prs = out.map(_.getDouble(1)).toSeq
    assert(prs == prs.sorted.reverse)
  }
}
