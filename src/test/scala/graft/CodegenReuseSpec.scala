package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Profile
import graft.pipeline.BatchPipeline

/** A long-lived session compiles each distinct generated class once:
  * Spark's codegen cache holds a corpus cycle's working set (sized in
  * `GraftSession.buildConf`), and per-run values such as the daily
  * pipeline's `asOf` stay out of generated code. Compiles are counted
  * by [[graft.obs.Profile]] from Spark's own `CodegenMetrics`, whose
  * compilation-time histogram records one sample per Janino compile (a
  * cache miss).
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val keys = Seq("dedup_containment", "mm_dhash_neardup",
    "cur_doremi_mix", "text_classifier_train", "sim_ivf_ann",
    "graph_label_prop")

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long =
    Profile.run(spark, "codegen_reuse")(body)._2.compiles

  /** Empty the JVM-wide codegen cache, so the next plans compile as in a
    * fresh JVM whatever earlier suites compiled. The session is built
    * first: Spark sizes the cache from the active session's conf when
    * the cache is first touched. */
  private def emptyCodegenCache(): Unit = {
    spark
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** Every key once, from cold session artifacts, into the noop sink. */
  private def corpusPass(): Unit = {
    GraftSession.release(spark, Some(dir))
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    GraftSession.release(spark, Some(dir))
  }

  test("a second pass over the corpus keys compiles no class again") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    emptyCodegenCache()
    val first = compiles(corpusPass())
    val second = compiles(corpusPass())
    info(s"first pass compiled $first classes, second pass $second")
    // more classes than Spark's default cache of 100, so a cache of that
    // size would evict each class before the second pass reused it
    assert(first > 100, s"the first pass compiled only $first classes")
    // The second pass should find every class the first one compiled.
    // AQE now and then plans a join variant the first pass did not run
    // (a broadcast hash join stage: two new classes), so the bound is a
    // handful, not 0. With AQE's stage ids in class names 26-34 classes
    // compile again, and with a cache of 100 all but a dozen do.
    assert(second <= first / 20, s"the second pass compiled $second classes")
  }

  private def rawMatches: DataFrame = {
    import spark.implicits._
    Seq(
      (1, "Sa 15 Feb", "Arsenal", "2 - 1", "Chelsea", "england"),
      (2, "Su 16 Feb", "Leeds", "0 - 0", "Arsenal", "england"),
      (3, "Averages", "x", "-", "y", "england"),
      (4, "Th 27 Feb", "Chelsea", "1 - 1", "Leeds", "england"),
      (5, "Sa 10 Aug", "Chelsea", "3 - 0", "Arsenal", "england"),
      (6, "Su 23 Feb", "Nice", "2 - 2", "Lyon", "france"),
      (7, "Fr 28 Feb", "Lyon", "0 - 1", "Nice", "france"),
    ).toDF("ordinal", "date", "home_team", "score", "away_team", "league")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq

  test("a daily run with a new asOf and runTs compiles nothing and " +
      "matches a fresh run") {
    val outDir = Files.createTempDirectory("graft_codegen_daily").toString
    val day1 = LocalDate.of(2025, 2, 24)
    BatchPipeline.run(spark, rawMatches, day1, s"$day1 02:00:00", outDir)
    // a new year, so the year inference and the date filter both change
    val day2 = LocalDate.of(2026, 3, 1)
    val ts2 = s"$day2 02:00:00"
    val next = compiles(
      BatchPipeline.run(spark, rawMatches, day2, ts2, outDir))
    info(s"the second run compiled $next classes")
    assert(next == 0, s"the second run compiled $next classes")

    emptyCodegenCache()
    val fresh = BatchPipeline.run(spark, rawMatches, day2, ts2,
      Files.createTempDirectory("graft_codegen_fresh").toString)
    val reused = new BatchPipeline.Result(spark, outDir)
    assert(sorted(reused.matches) == sorted(fresh.matches))
    assert(sorted(reused.standings) == sorted(fresh.standings))
    // the second run's values, not the first one's
    assert(reused.matches.filter(col("date") === "2026-02-27").count() == 1)
    assert(reused.matches.filter(col("created_at") =!= "2026-03-01 09:00:00")
      .isEmpty)
  }
}
