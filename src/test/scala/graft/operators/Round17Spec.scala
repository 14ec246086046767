package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.Profile

/** Round-17 contracts (ADVICE r16): the curate stage's NULL-text admit
  * rule is PINNED rather than incidental, the two-level uniqueness
  * rewrites preserve the empty-table n_rows=0 contract, and the eval
  * shingle artifact cache participates in the GraftSession.release
  * lifecycle like every other operator cache.
  */
class Round17Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("curate stage: NULL text pins to the empty document and admits " +
      "(md5 of empty string), matching the oracle's coalesce") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocStream
    // tiny synthetic eval artifact — any non-matching shingles work: a
    // NULL/empty doc has no shingles and cannot leak
    val evalSh = Array("e1 e2 e3")
    val mem = MemoryStream[DocStream.DocCur]
    val q = DocStream.curateStream(mem.toDS(), evalSh)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curate_null_text").start()
    try {
      mem.addData(Seq(
        DocStream.DocCur(1L, "src1", null),
        DocStream.DocCur(2L, "src1", "a b c d")))
      q.processAllAvailable()
      val rows = spark.table("curate_null_text")
        .orderBy(col("doc_id")).collect()
      assert(rows.length == 2, s"NULL-text doc must admit: ${rows.toSeq}")
      val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e" // md5("")
      assert(rows(0).getLong(1) == 1L && rows(0).getString(0) == emptyMd5,
        s"NULL text must digest as the empty document: ${rows(0)}")
    } finally q.stop()
  }

  test("keyUniquenessAudit: empty input reports n_rows=0, not NULL " +
      "(the pre-rewrite count(*) contract)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val r = Profiling.keyUniquenessAudit("empty_t", empty, Seq("k"))
      .collect().head
    assert(!r.isNullAt(r.fieldIndex("n_rows")), s"n_rows must not be NULL: $r")
    assert(r.getLong(r.fieldIndex("n_rows")) == 0L, s"n_rows must be 0: $r")
    assert(r.getLong(r.fieldIndex("n_keys")) == 0L, s"n_keys must be 0: $r")
    assert(r.getLong(r.fieldIndex("n_dup_rows")) == 0L,
      s"n_dup_rows must be 0: $r")
  }

  test("codec kernels run with ImageIO's temp-file cache disabled " +
      "(the r17 /tmp-collision fix is pinned, not incidental)") {
    // touching any codec kernel must have initialized ImageIoNoTmp;
    // useCache=true would put a FileCacheImageInputStream temp file in
    // /tmp per image — ~1.5M file ops per 500k-image build (measured:
    // sf10 build 390.4 -> 225.7 s on this one setting)
    Multimodal.mmDecodeReal(spark, dir).count()
    assert(!javax.imageio.ImageIO.getUseCache,
      "ImageIO.useCache must be false after a codec kernel runs")
  }

  test("classifier training shuffles the feature table ONCE, not once " +
      "per gradient round (the df17de4 revert trap is a red test now)") {
    // Scale-free plan pin: with the doc_id-pre-partitioned persist, the
    // 10 rounds reuse the cached partitioning and the only meaningful
    // exchange is the single feature materialization (plus 66-row
    // per-round aggregates); the reverted form re-shuffles the feature
    // table EVERY round, making total shuffle-write ~11x the largest
    // single stage. Assert total < 4x max — robust to AQE stage
    // shaping, independent of corpus size.
    val (_, p) = Profile.run(spark, "text_classifier_train")(
      TextAnalysis.textClassifierTrain(spark, dir).collect())
    val maxW = p.stages.map(_.shuffleWriteBytes).maxOption.getOrElse(0L)
    assert(maxW > 0, "training must shuffle the feature table once")
    assert(p.shuffleWriteBytes < 4 * maxW, "per-round re-shuffle detected: " +
      s"total ${p.shuffleWriteBytes} B vs largest stage $maxW B — the " +
      "pre-partitioned persist is gone")
  }

  test("eval shingle artifact: memoized per (session, dir) and evicted " +
      "by GraftSession.release like every other operator cache") {
    import graft.streaming.DocStream
    val a = DocStream.evalShingleSet(spark, dir)
    val b = DocStream.evalShingleSet(spark, dir)
    assert(a eq b, "second call must serve the cached artifact instance")
    graft.GraftSession.release(spark, Some(dir))
    val c = DocStream.evalShingleSet(spark, dir)
    assert(!(a eq c), "release must evict — a corpus regenerated under " +
      "the same dir would otherwise serve a stale artifact")
    assert(a.toSeq == c.toSeq, "rebuilt artifact must be identical on an " +
      "unchanged corpus")
  }
}
