package graft

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.BatchPipeline
import graft.sources.Sources

/** CLI entry point (SURVEY §7.1's `Main`): run the reference-equivalent
  * daily pipeline with an injectable clock.
  *
  * Usage:
  *   runMain graft.Main --out /tmp/warehouse \
  *     [--as-of 2025-02-24] [--run-ts "2025-02-24 02:00:00"] \
  *     [--raw <matches_raw parquet/csv path>] [--league england]
  *
  * Without --raw, the bundled HTML fixture is parsed (S1) into the
  * matches_raw shape — the network fetch is a seam, not a dependency.
  *
  * Curation mode: `--curate <corpusDir> --out <dir>` runs the full
  * training-data prep pipeline (Curation.corpusCurate) over the corpus
  * and lands the curated doc set as parquet instead.
  *
  * Index mode: `--build-index <corpusDir> --out <dir>` runs the
  * ingest-time index jobs and PERSISTS their artifacts (dedup signature
  * sketch + verified pairs, IVF codebook + assignment + radii) — the
  * nightly job after which no query session ever re-shingles or
  * re-scans the corpus (load via Dedup.loadDedupIndex /
  * Similarity.loadIvfIndex).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opts.getOrElse("out", sys.error("--out <dir> is required"))
    val asOf = LocalDate.parse(opts.getOrElse("as-of", "2025-02-24"))
    val runTs = opts.getOrElse("run-ts", s"$asOf 00:00:00")
    val league = opts.getOrElse("league", "england")

    val spark = GraftSession.local("graft-pipeline",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")))

    (opts.get("build-index"), opts.get("curate")) match {
      case (Some(corpus), _) =>
        operators.Dedup.buildIndexes(spark, corpus)
        operators.Dedup.saveDedupIndex(spark, corpus, s"$out/dedup_index")
        operators.Similarity.buildIvfIndex(spark, corpus)
        operators.Similarity.saveIvfIndex(spark, corpus, s"$out/ivf_index")
        println(s"indexes saved: $out/dedup_index $out/ivf_index")
      case (None, Some(corpus)) =>
        val total = Tables.t(spark, corpus, "documents").count()
        val curated = operators.Curation.curatedShards(spark, corpus)
        curated.write.mode("overwrite").partitionBy("shard")
          .parquet(s"$out/curated.parquet")
        val kept = spark.read.parquet(s"$out/curated.parquet").count()
        println(s"docs=$total curated=$kept out=$out/curated.parquet (sharded)")
      case _ =>
        val raw = opts.get("raw") match {
          case Some(path) if path.endsWith(".csv") =>
            spark.read.option("header", "true")
              .schema(Tables.matchesRawSchema).csv(path)
          case Some(path) => spark.read.parquet(path)
          case None =>
            val rows = Sources.parseHtmlTableRows(Sources.htmlFixture)
              .filter(_.length >= 4).zipWithIndex
              .map { case (r, i) => Row(i + 1, r(0), r(1), r(2), r(3), league) }
            spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), Tables.matchesRawSchema)
        }
        val res = BatchPipeline.run(spark, raw, asOf, runTs, out)
        println(s"matches=${res.matches.count()} standings=${res.standings.count()}")
        res.standings.orderBy(col("league"), col("id")).show(50, truncate = false)
    }
    GraftSession.release(spark)
    spark.stop()
  }
}
