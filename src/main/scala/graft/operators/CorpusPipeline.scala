package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SessionArtifacts

/** The end-to-end training-data preparation pipeline — the composition the
  * individual operator families exist for: quality-score every document,
  * drop low-quality ones, and remove near-duplicates (MinHash+LSH
  * clusters keep their lowest doc_id). Output is the cleaned corpus.
  *
  * Scale shape: quality scoring is per-row map-side; near-dup candidate
  * pairs come from Dedup's memoized signature index (never all-pairs, and
  * the sketch is never recomputed here); the removal is a broadcastable
  * left-anti join against the (small) loser set. Nothing in this plan is
  * quadratic in corpus size. The cleaned corpus itself is memoized per
  * (session, corpus) so downstream consumers — the summary
  * report here, sharding/tokenization in production — read it instead of
  * re-running the pipeline.
  */
object CorpusPipeline {

  /** Owner of the cleaned corpus in [[graft.SessionArtifacts]]. */
  private[graft] final val Owner = "corpus-pipeline"

  /** Quality floor of the cleaned and the curated corpus, interpolated
    * into the oracles. */
  private[operators] val MinQuality = 0.7

  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir,
        SessionArtifacts.Kind(Owner, "clean")) {
      val quality = TextAnalysis.textQuality(spark, dir)
        .select(col("doc_id"), col("quality"))
      val losers = Dedup.minhashPairs(spark, dir)
        .filter(col("sim_est") >= 0.5)
        .select(col("db").as("doc_id")).distinct()
      val cleaned = graft.Tables.t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .join(quality, "doc_id")
        .filter(col("quality") >= MinQuality)
        .join(losers, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cleaned.count() // materialize once per (session, corpus)
      cleaned
    }(SessionArtifacts.unpersist)

  /** Per-language summary of the cleaned corpus (the report a pipeline
    * operator watches) — reads the memoized cleaned corpus, does not
    * re-run the pipeline.
    */
  def corpusCleanSummary(spark: SparkSession, dir: String): DataFrame =
    corpusClean(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 6).as("avg_quality"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_clean" -> (corpusClean _),
    "corpus_clean_summary" -> (corpusCleanSummary _),
  )

  private[operators] val qualityCte = """
    qual AS (
      SELECT doc_id,
        round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
          + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
              x -> x = 'a' OR x = 'the')) AS DOUBLE)
              / len(string_split(text, ' ')))
          + 0.3 * CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
              AS DOUBLE) / length(text), 6) AS quality
      FROM documents)"""

  private val losersCte = s"""
    ${Dedup.shinglesCte},
    sig AS (SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || '|' || s)) AS v
            FROM sh, UNNEST(generate_series(0, 7)) AS g(h) GROUP BY 1, 2),
    band AS (SELECT doc_id, h // 2 AS band, string_agg(v, '' ORDER BY h) AS key
             FROM sig GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
             WHERE a.doc_id < b.doc_id),
    est AS (SELECT da, db,
              CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE) / 8
                AS sim_est
            FROM cand
            JOIN sig sa ON sa.doc_id = da
            JOIN sig sb ON sb.doc_id = db AND sa.h = sb.h
            GROUP BY 1, 2),
    losers AS (SELECT DISTINCT db AS doc_id FROM est WHERE sim_est >= 0.5)"""

  val oracle: Map[String, String] = Map(
    "corpus_clean" -> s"""
      WITH $losersCte,
      $qualityCte
      SELECT d.doc_id, d.lang, q.quality
      FROM documents d
      JOIN qual q ON d.doc_id = q.doc_id
      WHERE q.quality >= $MinQuality
        AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)""",
    "corpus_clean_summary" -> s"""
      WITH $losersCte,
      $qualityCte
      SELECT d.lang, count(*) AS n_docs, round(avg(q.quality), 6) AS avg_quality
      FROM documents d
      JOIN qual q ON d.doc_id = q.doc_id
      WHERE q.quality >= $MinQuality
        AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
      GROUP BY 1""",
  )
}
