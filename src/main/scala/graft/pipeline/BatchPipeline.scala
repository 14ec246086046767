package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.MatchExprs
import graft.operators.Relational

/** EP1 equivalent (ref dags/projectde_dag.py): the daily batch pipeline
  * extract → clean → load matches → standings → load standings, as ONE
  * declarative plan per run instead of five XCom-separated task processes.
  *
  * D1 stage boundaries become plan actions; D2's static 6-league fan-out
  * becomes a single league-partitioned plan + partitionBy("league") writes
  * (downstream reads prune by league); D3's schedule becomes the explicit
  * `asOf`/`runTs` parameters; D4's drop-and-replace becomes
  * SaveMode.Overwrite. The reference's duplicate standings write
  * (dags/projectde_dag.py:245,267) is collapsed to one.
  *
  * Execution shape: the raw input is hash-partitioned by league into
  * `defaultParallelism` partitions with an EXPLICIT count. AQE never
  * coalesces an explicit-count repartition, so both league-partitioned
  * writes run one task per core; left to AQE, a write of this size
  * collapses to one task that writes every league's files in turn. The
  * clean's per-league id window and the standings' group-by and rank
  * window all reuse that partitioning, so the run shuffles the raw rows
  * once and nothing after. The raw input is scanned and cleaned once: the
  * cleaned matches are persisted for the duration of the run only (both
  * writes read them) and unpersisted in a `finally`, also when a write
  * fails.
  *
  * Sinks are parquet here; the JDBC seam (Sources.jdbcOverwriteWriter)
  * swaps in per-table without touching the plan (SURVEY §7.4 risk 7).
  */
object BatchPipeline {

  /** The published tables. Each is read from its output directory on
    * first use, not by `run`: a caller that never looks pays no listing
    * job, and one that does sees what is in the directory at that time.
    */
  final class Result(spark: SparkSession, outDir: String) {
    lazy val matches: DataFrame = spark.read.parquet(s"$outDir/matches")
    lazy val standings: DataFrame = spark.read.parquet(s"$outDir/standings")
  }

  /** Run the pipeline over raw scraped-shape matches. Writes
    * `$outDir/matches` and `$outDir/standings`, both partitioned by
    * league, and returns them as a [[Result]] that reads them on first use.
    */
  def run(spark: SparkSession, rawMatches: DataFrame, asOf: LocalDate,
      runTs: String, outDir: String): Result = {
    // Requires the GraftSession non-ANSI contract (reference cleaning is
    // null-on-failure; see GraftSession scaladoc) — set at session
    // construction, never mutated here.
    val byLeague = rawMatches.repartition(
      spark.sparkContext.defaultParallelism, col("league"))
    val matches = MatchExprs.clean(byLeague, asOf, runTs).persist()
    try {
      matches.write.mode(SaveMode.Overwrite)
        .partitionBy("league").parquet(s"$outDir/matches")

      val asMatches = matches.select(col("league"),
        col("home_team").as("home"), col("away_team").as("away"),
        col("home_score").as("hs"), col("away_score").as("as_"))
      val standings = Relational.standingsOf(asMatches, keys = Seq("league"))
        .withColumn("created_at", MatchExprs.createdAt(runTs))
      standings.write.mode(SaveMode.Overwrite)
        .partitionBy("league").parquet(s"$outDir/standings")
    } finally matches.unpersist()

    new Result(spark, outDir)
  }
}
