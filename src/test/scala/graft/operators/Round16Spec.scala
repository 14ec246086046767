package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-16 contracts: the eval-side contamination report's envelope
  * (per-item arithmetic the oracle hash already pins, re-asserted here
  * as INVARIANTS so a fixture change can't silently hollow the query
  * out), and the checkpoint-hygiene fixes from ADVICE r15 — operators
  * that localCheckpoint an intermediate frame must FREE it before
  * returning (mmAudioNeardup's fingerprint frame, dqKAnonymize's cell
  * frame), so repeated bench reps in one session don't accumulate
  * cached RDD blocks.
  */
class Round16Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("cur_contamination_report: one row per eval item, ppm arithmetic " +
      "and verdict self-consistent") {
    val rows = Curation.contaminationReport(spark, dir).collect()
    val nEval = graft.Tables.t(spark, dir, "documents")
      .filter(col("source") === "src0").count()
    assert(rows.length == nEval.toInt,
      s"report must cover every eval item: ${rows.length} vs $nEval")
    rows.foreach { r =>
      val (nSh, nLeaked, ppm, compromised) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(nSh > 0, s"eval item with zero shingles: $r")
      assert(nLeaked >= 0 && nLeaked <= nSh, s"leak count out of range: $r")
      assert(ppm == nLeaked * 1000000L / nSh, s"ppm drifted: $r")
      assert(compromised == (ppm >= Curation.ContamLeakPpm),
        s"verdict must be ppm >= ${Curation.ContamLeakPpm}: $r")
    }
  }

  test("cur_contamination_report: the leak set is deduplicated " +
      "corpus-wide — an item leaking via many train docs counts each " +
      "shingle once") {
    // n_leaked is bounded by the item's own distinct shingle count, so
    // a 1000-copy train cluster cannot inflate any item past 10^6 ppm
    val over = Curation.contaminationReport(spark, dir)
      .filter(col("leak_ppm") > 1000000L).count()
    assert(over == 0L, s"$over items above 10^6 ppm — leak set not deduped")
  }

  test("graft_leak_count == size(array_intersect) on distinct arrays — " +
      "the probe kernel must be a drop-in for the built-in") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "x y z")),
      (2L, Seq.empty[String]),
      (3L, Seq("q w e")),
      (4L, Seq("a b c", "a b c x")),
    ).toDF("id", "sh")
    val set = typedlit(Seq("a b c", "x y z", "k l m"))
    val rows = df.select(col("id"),
        call_function("graft_leak_count", col("sh"), set).as("k"),
        size(array_intersect(col("sh"), set)).as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    rows.foreach { case (id, k, b) =>
      assert(k == b, s"id=$id: kernel says $k, array_intersect says $b")
    }
    assert(rows.map(_._2).toSeq == Seq(2, 0, 0, 1))
  }

  test("empty eval source: the curate screen admits every doc and the " +
      "contamination report is empty (nothing to protect = nothing " +
      "compromised)") {
    import graft.streaming.DocStream
    val none = "no_such_source"
    val evalSh = DocStream.evalShingleSet(spark, dir, none)
    assert(evalSh.isEmpty, "artifact for an absent eval source must be empty")
    val curated = DocStream.batchCurateIngest(spark, dir, evalSource = none)
    // with no eval set the screen is a no-op: survivors == the distinct
    // scrubbed digests of the WHOLE corpus (no source excluded either)
    val expected = graft.Tables.t(spark, dir, "documents")
      .select(md5(regexp_replace(regexp_replace(col("text"),
        TextAnalysis.EmailRe, "<EMAIL>"), TextAnalysis.Ipv4Re, "<IP>")))
      .distinct().count()
    assert(curated.count() == expected,
      s"screen must admit everything: ${curated.count()} vs $expected")
    assert(Curation.contaminationReport(spark, dir, none).count() == 0)
  }

  test("checkpoint hygiene: mmAudioNeardup frees its fingerprint frame " +
      "(ADVICE r15)") {
    val sc = spark.sparkContext
    def live = sc.getPersistentRDDs.size
    val before = live
    val df = Multimodal.mmAudioNeardup(spark, dir)
    df.count()
    assert(live <= before,
      s"fingerprint checkpoint leaked: $before -> $live cached RDDs")
  }

  test("checkpoint hygiene: dqKAnonymize frees its cell frame " +
      "(ADVICE r15)") {
    val sc = spark.sparkContext
    def live = sc.getPersistentRDDs.size
    val before = live
    val df = Profiling.dqKAnonymize(spark, dir)
    df.count()
    assert(live <= before,
      s"cell-frame checkpoint leaked: $before -> $live cached RDDs")
  }
}
