package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.Tables.t
import graft.functions.TextFunctions.tokens

/** Sequence packing + token-budget mixture sampling — the training-export
  * tail of the curation family.
  */
class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def synthetic(rows: Seq[(Int, Long, Int)]) = {
    import spark.implicits._
    rows.toDF("shard", "doc_id", "n_tokens")
  }

  test("pack: zero doc loss and multi-doc packs never exceed the budget") {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), lit(0).as("shard"),
        size(tokens(col("text"))).as("n_tokens"))
    val packed = Curation.packSequences(docs, budget = 256).cache()
    try {
      assert(packed.count() == docs.count(), "every doc must pack")
      assert(packed.select(col("doc_id")).distinct().count() == docs.count())
      val overBudget = packed
        .groupBy(col("shard"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("tok"), count(lit(1)).as("n"))
        .filter(col("tok") > 256 && col("n") > 1)
      assert(overBudget.isEmpty, "multi-doc pack over budget")
    } finally packed.unpersist()
  }

  test("pack: greedy next-fit fold matches a hand-computed assignment") {
    // budget 10: [4,5] pack 0; 3 opens pack 1 (9+3>10); [3,7] pack 1;
    // 9 opens pack 2
    val got = Curation.packSequences(
        synthetic(Seq((0, 1L, 4), (0, 2L, 5), (0, 3L, 3), (0, 4L, 7),
          (0, 5L, 9))), budget = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("pack_id"), r.getAs[Int]("pack_pos"))).toSet
    assert(got == Set((1L, 0, 0), (2L, 0, 1), (3L, 1, 0), (4L, 1, 1),
      (5L, 2, 0)))
  }

  test("pack: oversized doc lands alone in its own pack, nothing dropped") {
    val got = Curation.packSequences(
        synthetic(Seq((0, 1L, 4), (0, 2L, 99), (0, 3L, 4))), budget = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("pack_id"), r.getAs[Int]("pack_pos"))).toSet
    assert(got == Set((1L, 0, 0), (2L, 1, 0), (3L, 2, 0)))
  }

  test("pack: fold state resets at shard boundaries") {
    val got = Curation.packSequences(
        synthetic(Seq((0, 1L, 6), (0, 2L, 6), (1, 3L, 6), (1, 4L, 6))),
        budget = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Int]("pack_id"))).toSet
    // each shard starts at pack 0; 6+6>10 so each doc is its own pack
    assert(got == Set((1L, 0, 0), (2L, 0, 1), (3L, 1, 0), (4L, 1, 1)))
  }

  test("pack: a real Int.MinValue shard id is not mistaken for 'no shard yet'") {
    // the fold used shard == Int.MinValue as its first-row sentinel; a row
    // whose shard is ACTUALLY Int.MinValue then took the continuation
    // branch with stale acc=0 and got pack_pos 1. An explicit boolean flag
    // makes every Int a legal shard id.
    val got = Curation.packSequences(
        synthetic(Seq((Int.MinValue, 1L, 6), (Int.MinValue, 2L, 6))),
        budget = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("pack_id"), r.getAs[Int]("pack_pos"))).toSet
    assert(got == Set((1L, 0, 0), (2L, 1, 0)))
  }

  test("pack: assignment is invariant to input partitioning") {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"),
        (col("doc_id") % 4).cast("int").as("shard"),
        size(tokens(col("text"))).as("n_tokens"))
    val a = Curation.packSequences(docs.repartition(1), 256)
    val b = Curation.packSequences(docs.repartition(13), 256)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("assembly: totals match members and separators count n_docs - 1") {
    val sep = " <|doc|> "
    val packs = Curation.assemblePacks(spark, dir).cache()
    try {
      assert(packs.count() > 0)
      // doc conservation: assembled docs == assignment rows
      val nAssigned = Curation.packCurated(spark, dir).count()
      assert(packs.agg(sum(col("n_docs"))).collect()(0).getLong(0)
        == nAssigned)
      // multi-doc packs within budget
      assert(packs.filter(col("n_docs") > 1 && col("pack_tokens") > 256)
        .isEmpty)
      // the separator appears exactly n_docs - 1 times in each text
      val badSep = packs.filter(
        (size(split(col("text"), java.util.regex.Pattern.quote(sep)))
          - 1) =!= (col("n_docs") - 1))
      assert(badSep.isEmpty, "separator count must be n_docs - 1")
    } finally packs.unpersist()
  }

  test("top-n sample: exact per-source counts, matches the window idiom") {
    import org.apache.spark.sql.expressions.Window
    val got = Curation.sampleTopNPerSource(spark, dir, n = 3).cache()
    try {
      val perSource = got.groupBy(col("source")).agg(count(lit(1)).as("n"))
      assert(perSource.filter(col("n") =!= 3).isEmpty,
        "every source must contribute exactly n docs")
      val ref = t(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("hv"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("hv").asc, col("doc_id").asc)))
        .filter(col("rn") <= 3).drop("rn")
      assert(got.except(ref).isEmpty && ref.except(got).isEmpty)
    } finally got.unpersist()
  }

  test("mixture: kept set is the maximal budget prefix per source") {
    import org.apache.spark.sql.expressions.Window
    val budget = Curation.MixtureBudget
    val kept = Curation.mixtureSample(spark, dir).cache()
    try {
      // every kept cumsum within budget
      assert(kept.filter(col("cum_tokens") > budget).isEmpty)
      // maximality: the single-window reference marks exactly the same rows
      val ref = t(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).as("n_tokens"),
          md5(col("doc_id").cast("string")).as("hv"))
        .withColumn("cum", sum(col("n_tokens")).over(
          Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
        .filter(col("cum") <= budget)
      assert(kept.count() == ref.count())
      assert(kept.select(col("doc_id")).except(
        ref.select(col("doc_id"))).isEmpty)
    } finally kept.unpersist()
  }

  test("mixture: per-source budget override is honored") {
    val got = Curation.mixtureSample(spark, dir,
      budgets = Map("src0" -> 0L))
    assert(got.filter(col("source") === "src0").isEmpty)
    assert(got.filter(col("source") =!= "src0").count() > 0)
  }
}
