package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.time.format.TextStyle
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.expr.MatchExprs
import graft.pipeline.{BatchPipeline, RetailPipeline}

/** Golden end-to-end tests for the reference-parity pipelines (EP1/EP3)
  * on reference-shaped fixtures (FIXTURES.md §A).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val asOf = LocalDate.of(2025, 2, 24)
  private val runTs = "2025-02-24 02:00:00" // UTC → 09:00:00 Jakarta

  /** Raw fixture covering every cleaning branch: junk rows, malformed
    * score, unparseable date, future match, Aug–Dec (year-inference).
    */
  private def rawFixture = {
    import spark.implicits._
    Seq(
      // (ordinal, date, home_team, score, away_team, league)
      (1, "Sa 15 Feb", "Arsenal", "2 - 1", "Chelsea", "england"),
      (2, "Su 16 Feb", "Leeds", "0 - 0", "Arsenal", "england"),
      (3, "Averages", "x", "-", "y", "england"),          // junk (F1)
      (4, "Mo 17 Feb", "Totals", "9 - 9", "z", "england"), // junk (F1)
      (5, "Tu 32 Xyz", "Fulham", "1 - 0", "Leeds", "england"), // bad date (F5)
      (6, "We 26 Feb", "Chelsea", "", "Leeds", "england"), // future (F3)
      (7, "Sa 10 Aug", "Chelsea", "-", "Arsenal", "england"), // malformed score (X2)
      (8, "Xx 20 Dec", "Lyon", "3 - 2", "Nice", "france"), // unknown day abbrev (X4)
      (9, "Su 23 Feb", "Nice", "2 - 2", "Lyon", "france"), // YESTERDAY — kept (F3)
    ).toDF("ordinal", "date", "home_team", "score", "away_team", "league")
      .selectExpr("ordinal", "date", "home_team", "score", "away_team", "league")
  }

  test("clean: golden rows across every branch") {
    val out = MatchExprs.clean(rawFixture, asOf, runTs)
      .orderBy("league", "id").collect()
    // 9 raw − 2 junk − 1 bad date − 1 future = 5 surviving matches
    assert(out.length == 5)
    // F3: a match dated exactly yesterday (asOf-1) is KEPT — the daily
    // 09:00 pipeline must not omit the most recent day's results.
    assert(out.exists(_.getAs[java.sql.Date]("date").toString == "2025-02-23"))
    val arsenal = out(0)
    assert(arsenal.getAs[Int]("id") == 1)
    assert(arsenal.getAs[String]("day") == "Saturday")
    assert(arsenal.getAs[java.sql.Date]("date").toString == "2025-02-15")
    assert(arsenal.getAs[Int]("home_score") == 2 &&
      arsenal.getAs[Int]("away_score") == 1)
    assert(arsenal.getAs[Int]("result_home") == 3 &&
      arsenal.getAs[Int]("result_away") == 0)
    assert(arsenal.getAs[String]("created_at") == "2025-02-24 09:00:00")
    // Aug date → prior year (X5)
    val aug = out.find(_.getAs[String]("home_team") == "Chelsea").get
    assert(aug.getAs[java.sql.Date]("date").toString == "2024-08-10")
    // malformed score → nulls, result 0/0 shape (reference: None scores)
    assert(aug.isNullAt(aug.fieldIndex("home_score")))
    // unknown day abbreviation passes through (X4 default)
    val fr = out.find(_.getAs[String]("league") == "france").get
    assert(fr.getAs[String]("day") == "Xx")
    assert(fr.getAs[Int]("id") == 1) // per-league dense ids
  }

  test("batch pipeline: league-partitioned writes + per-league standings") {
    val outDir = Files.createTempDirectory("graft_pipe").toString
    val res = BatchPipeline.run(spark, rawFixture, asOf, runTs, outDir)
    // partitionBy layout prunes by league
    assert(new java.io.File(s"$outDir/standings/league=england").exists())
    assert(new java.io.File(s"$outDir/standings/league=france").exists())
    val eng = res.standings.filter("league = 'england'")
      .orderBy("id").collect()
    // played england matches with scores: Arsenal 2-1 Chelsea, Leeds 0-0 Arsenal
    // Arsenal: W1 D1 → 4 pts; Leeds: D1 → 1 pt; Chelsea: L1 → 0 pts
    assert(eng.map(r => (r.getAs[String]("club"), r.getAs[Long]("points")))
      .toSeq == Seq(("Arsenal", 4L), ("Leeds", 1L), ("Chelsea", 0L)))
    assert(eng.map(_.getAs[Int]("id")).toSeq == Seq(1, 2, 3))
    val fr = res.standings.filter("league = 'france'").collect()
    assert(fr.map(_.getAs[String]("club")).toSet == Set("Lyon", "Nice"))
  }

  private val leagues = PipelineSpec.leagues

  private def writeSeason(leagues: Seq[String]): String =
    PipelineSpec.writeSeason(spark, asOf, leagues)

  /** What a run does, seen by the spec's own listeners: the SQL execution
    * id of every job (None outside any SQL action) and the
    * QueryExecution of every finished action.
    */
  private final class Capture extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentLinkedQueue[Option[String]]
    val queries = new ConcurrentLinkedQueue[QueryExecution]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Option(e.properties).flatMap(p =>
        Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))))
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.add(qe)
    def drained(): this.type = { ListenerBusDrain.drain(spark.sparkContext); this }
  }

  private def capturing[T](body: Capture => T): T = {
    val c = new Capture
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    try body(c) finally {
      spark.listenerManager.unregister(c)
      spark.sparkContext.removeSparkListener(c)
    }
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Every node of an executed plan, through AQE wrappers and query
    * stages (but not into cached relations). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** File scans of `path` across `plans`, looking inside each cached
    * relation's own plan once per cache, however many plans read it. */
  private def scansOf(plans: Seq[SparkPlan], path: String): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def count(p: SparkPlan): Int = nodes(p).map {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.count(_.toString.endsWith(path))
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        count(m.relation.cachedPlan)
      case _ => 0
    }.sum
    plans.map(count).sum
  }

  private def writeTo(c: Capture, table: String): SparkPlan =
    c.queries.asScala.map(_.executedPlan).find(p => nodes(p).exists {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == table
        case _ => false
      }
      case _ => false
    }).getOrElse(fail(s"no $table write captured"))

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq

  test("batch pipeline: one raw scan, no standings shuffle, parallel " +
      "league writes, result read only on first use") {
    val rawPath = writeSeason(leagues)
    val raw = spark.read.parquet(rawPath)
    val outDir = Files.createTempDirectory("graft_pipe_shape").toString
    // list partition dirs with a job, as a real season's 40+ leagues do,
    // so an eager read-back of the outputs would show as a job; and let
    // AQE coalesce the cached plan's shuffle, so write parallelism rests
    // on the run's explicit partition count alone
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
      capturing { c =>
        val res = BatchPipeline.run(spark, raw, asOf, runTs, outDir)
        c.drained()
        val plans = c.queries.asScala.map(_.executedPlan).toSeq
        assert(scansOf(plans, "raw.parquet") == 1,
          "the raw input must be scanned (and cleaned) once per run")

        val shuffles = nodes(writeTo(c, "standings"))
          .collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          "the standings write re-shuffled the cleaned matches: " +
            shuffles.map(_.outputPartitioning).mkString(", "))

        val partIds = new File(s"$outDir/matches").listFiles()
          .filter(_.getName.startsWith("league=")).flatMap(_.listFiles())
          .map(_.getName).collect { case n if n.startsWith("part-") => n.take(10) }
        assert(partIds.distinct.length > 1,
          s"every league file came from one write task: ${partIds.distinct.toSeq}")

        // no job outside the two writes' SQL actions: nothing was read back
        val inRun = c.jobs.asScala.toSeq
        assert(inRun.nonEmpty && inRun.forall(_.isDefined),
          s"run started jobs outside its writes: $inRun")
        assert(res.standings.count() == leagues.length * 6L)
        assert(c.drained().jobs.asScala.drop(inRun.length).exists(_.isEmpty),
          "the first read of the result lists the output dirs")
      }
    }
  }

  test("batch pipeline: a failed standings write reaches the caller and " +
      "leaves nothing persisted") {
    val raw = spark.read.parquet(writeSeason(leagues))
    val outDir = Files.createTempDirectory("graft_pipe_fail")
    // an Overwrite simply deletes a regular file in the way; a symlink to
    // itself can be neither deleted as a directory nor created as one
    Files.createSymbolicLink(outDir.resolve("standings"),
      java.nio.file.Paths.get("standings"))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](
      BatchPipeline.run(spark, raw, asOf, runTs, outDir.toString))
    assert(new File(s"$outDir/matches/_SUCCESS").exists(),
      "the matches write runs, and succeeds, before the standings write")
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("batch pipeline: a rerun into the same dir replaces every league") {
    val outDir = Files.createTempDirectory("graft_pipe_rerun").toString
    BatchPipeline.run(spark, spark.read.parquet(writeSeason(leagues)),
      asOf, runTs, outDir)
    val fewer = spark.read.parquet(writeSeason(leagues.init))
    val later = asOf.plusDays(7)
    val laterTs = s"$later 02:00:00"
    val rerun = BatchPipeline.run(spark, fewer, later, laterTs, outDir)
    val fresh = BatchPipeline.run(spark, fewer, later, laterTs,
      Files.createTempDirectory("graft_pipe_fresh").toString)
    Seq("matches", "standings").foreach { t =>
      assert(!new File(s"$outDir/$t/league=${leagues.last}").exists(),
        s"dropped league's $t survived the rerun")
    }
    assert(sorted(rerun.matches) == sorted(fresh.matches))
    assert(sorted(rerun.standings) == sorted(fresh.standings))
    // the later asOf keeps the match that was in the future before
    assert(rerun.matches.filter(col("league") === "england").count() == 31)
  }

  test("retail ingest: explicit schema, typed columns, preview") {
    val dir = Files.createTempDirectory("graft_retail").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/retail.csv"),
      """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
        |536365,85123A,HOLDER,6,2010-12-01,2.55,17850,United Kingdom
        |536366,71053,,-2,2010-12-01,3.39,,France
        |""".stripMargin)
    val retail = RetailPipeline.ingest(spark, s"$dir/retail.csv", dir)
    assert(retail.schema == Tables.retailSchema)
    val rows = RetailPipeline.preview(retail)
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[Int]("Quantity") == 6)
    assert(r0.getAs[java.sql.Date]("InvoiceDate").toString == "2010-12-01")
    assert(rows(1).isNullAt(rows(1).fieldIndex("Description"))) // nullable
    assert(rows(1).getAs[Int]("Quantity") == -2) // returns
  }
}

object PipelineSpec {
  val leagues = Seq("england", "spain", "germany", "italy", "france",
    "netherlands", "portugal", "belgium", "scotland")

  /** A generated season in scraped shape, written to parquet so the
    * pipeline reads it through a file scan: per league, a double round
    * robin of 6 clubs spread over Aug–Jan, one junk row, and one unplayed
    * match two days after `asOf` (future now, kept by a later run).
    */
  def writeSeason(spark: SparkSession, asOf: LocalDate,
      leagues: Seq[String] = leagues): String = {
    import spark.implicits._
    def scraped(d: LocalDate) =
      s"${d.getDayOfWeek.getDisplayName(TextStyle.SHORT, Locale.ENGLISH).take(2)} " +
        s"${d.getDayOfMonth} ${d.getMonth.getDisplayName(TextStyle.SHORT, Locale.ENGLISH)}"
    val rows = leagues.flatMap { lg =>
      val clubs = (1 to 6).map(i => s"$lg-fc$i")
      val played = (for (h <- clubs; a <- clubs if h != a) yield (h, a))
        .zipWithIndex.map { case ((h, a), i) =>
          (scraped(LocalDate.of(2024, 8, 3).plusDays(6L * i)), h,
            s"${i % 4} - ${(i / 2) % 3}", a)
        }
      val extra = Seq(("Averages", "x", "-", "y"),
        (scraped(asOf.plusDays(2)), clubs(0), "", clubs(1)))
      (played ++ extra).zipWithIndex.map { case ((d, h, s, a), i) =>
        (i + 1, d, h, s, a, lg)
      }
    }
    val path = Files.createTempDirectory("graft_season").resolve("raw.parquet").toString
    rows.toDF("ordinal", "date", "home_team", "score", "away_team", "league")
      .write.parquet(path)
    path
  }
}
