package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Profiling

case class Ev(user_id: Long, ts: Timestamp, value: Double)
case class Session(user_id: Long, session_start: Timestamp,
  session_end: Timestamp, n_events: Long, total_value: Double)
/** `cents` accumulates each event's value rounded to integer cents —
  * the same half-up-per-value rounding as the batch twin's
  * DECIMAL(18,2) cast, so the two paths agree for any input precision
  * (a double running sum rounded once at emit diverges on >2-decimal
  * values and .005 halves).
  */
case class SessionState(start: Timestamp, end: Timestamp, n: Long,
  cents: Long)

/** ST12 wire/state shapes. `EvFull` carries event_id so "latest event"
  * ties on equal timestamps break deterministically, matching the batch
  * twin's (ts desc, event_id desc) ordering; `cents` follows the
  * [[SessionState]] half-up-per-value convention.
  */
case class EvFull(user_id: Long, event_id: Long, ts: Timestamp,
  event_type: String, value: Double)
case class UserProfile(user_id: Long, n_events: Long, total_value: Double,
  last_ts: Timestamp, last_event_type: String)
case class ProfileState(n: Long, cents: Long, lastTs: Timestamp,
  lastId: Long, lastType: String)

/** ST3 — the reference's declared-but-absent Kafka consumer
  * (Makefile:173-179; kafka jars at docker/Dockerfile.spark:8-10),
  * realized as a Structured Streaming job: tumbling-window aggregation with
  * a watermark. The SAME aggregation runs in batch mode (`batchWindowAgg`)
  * so the DuckDB oracle can replay it — streaming and batch share one
  * transform (SURVEY §2.8).
  *
  * Scale notes: the windowed agg is a streaming stateful operator keyed on
  * (window, event_type) — low cardinality, so state stays tiny; the
  * watermark bounds state growth; in production the source swaps to
  * `format("kafka")` with no change to the transform.
  */
object EventConsumer {

  /** The shared transform: 5-minute tumbling window per event_type. */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"),
      )
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Batch replay over the events parquet — oracle-checkable (st3). */
  def batchWindowAgg(spark: SparkSession, dir: String): DataFrame =
    windowAgg(Tables.t(spark, dir, "events"))

  /** Streaming flavor: file source (stand-in for Kafka in the sandbox) →
    * watermarked windowed agg → memory/parquet sink. Watermark allows
    * 10 minutes of lateness, then state is dropped (append mode).
    */
  def streamingWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    // schema probed from the footer (fixture encoding has changed between
    // rounds); normalizeEventTs handles both nanos-long and micros-ts
    windowAgg(
      Tables.normalizeEventTs(
        spark.readStream
          .schema(Tables.eventsFileSchema(spark, dir))
          .parquet(dir))
        .withWatermark("ts", "10 minutes"))
  }

  /** Start the consumer against a directory of event parquet files, writing
    * to an in-memory table `queryName` (test harness; production would be
    * writeStream.format("parquet")/.format("kafka") with a checkpoint).
    */
  def start(spark: SparkSession, dir: String, queryName: String): StreamingQuery =
    streamingWindowAgg(spark, dir).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Kafka flavors of the same consumer (ST1/ST2 surface). The sandbox
    * image ships no kafka connector jar (mirroring the reference, whose
    * consumer scripts are absent — Makefile:173-179), so these builders
    * configure the real production source/sink without starting it; the
    * transform they feed is byte-identical to the file/batch paths.
    *
    * Vendoring re-attempted and re-failed each round (r7 commit 8d3bee7;
    * r8: full-filesystem jar search finds no spark-sql-kafka /
    * kafka-clients / commons-pool2 anywhere, and offline sbt resolution
    * of spark-sql-kafka-0-10_2.13:4.1.2 still 404s against the
    * pre-warmed cache). The clean-failure contract below remains the
    * final state for this environment; on any cluster with the connector
    * jar on the classpath these builders run unchanged.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    decodeKafkaEvents(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** The consumer-side decode a Kafka deployment runs: value bytes →
    * JSON → typed event columns → normalized event-time. ONE expression
    * shared by the real broker source above and the [[kafkaReplaySource]]
    * harness below, so what the replay proves is exactly what the broker
    * path executes.
    */
  def decodeKafkaEvents(kafka: DataFrame): DataFrame =
    Tables.normalizeEventTs(
      kafka.selectExpr("CAST(value AS STRING) AS json")
        .select(from_json(col("json"), Tables.eventsRawSchema).as("e"))
        .select(col("e.*")))

  /** Kafka-SHAPED stream without a broker (S7/ST1/ST2 proof path): the
    * [[KafkaReplayProvider]] DSv2 source replays the events fixture with
    * the connector's exact schema and offset semantics (partition
    * buckets, dense offsets, admission control, checkpoint restart).
    * Production swap is this one line → `format("kafka")` +
    * bootstrap/subscribe; the decode and every transform downstream are
    * shared verbatim. StreamingSpec runs the ST3/ST5/ST8/ST9 transforms
    * through this source and pins them to their batch twins.
    */
  def kafkaReplaySource(spark: SparkSession, dir: String): DataFrame =
    decodeKafkaEvents(
      spark.readStream.format("graft.streaming.KafkaReplayProvider")
        .option("path", dir)
        .load())

  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String) =
    df.selectExpr("to_json(struct(*)) AS value").writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  // ------------------------------------------------------- sessionization

  /** Gap-based sessionization (30-minute inactivity), BATCH form: flag
    * session starts via lag() over the per-user event sequence, number
    * sessions with a running sum, aggregate. This is the oracle-checkable
    * twin of the stateful streaming version below — both implement the
    * same session definition.
    *
    * Scale notes: one shuffle on user_id; the window never holds more than
    * one user's events per task.
    */
  def batchSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
  }

  private val gapMs = 30L * 60 * 1000

  /** STREAMING sessionization: custom keyed state via
    * flatMapGroupsWithState (SURVEY §2.8 / builder brief's
    * KeyValueGroupedDataset surface). A session closes — and is emitted
    * exactly once — when the event-time watermark passes its end + gap.
    * State per user is one fixed-size record; the watermark bounds it.
    */
  def sessionizeStream(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          // Timestamps are kept at full (micro/nano) precision in state —
          // Timestamp.getTime truncates to millis and would diverge from
          // the batch twin's min/max(ts); getTime is used only for the
          // gap comparison, where sub-millisecond slack is irrelevant.
          def emit(s: SessionState): Session =
            Session(user, s.start, s.end, s.n, s.cents / 100.0)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(s))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.end.getTime <= gapMs =>
                  val end = if (e.ts.after(s.end)) e.ts else s.end
                  cur = Some(SessionState(s.start, end, s.n + 1,
                    s.cents + math.round(e.value * 100)))
                case Some(s) => // gap inside the batch → close the old one
                  closed ::= emit(s)
                  cur = Some(SessionState(e.ts, e.ts, 1,
                    math.round(e.value * 100)))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1,
                    math.round(e.value * 100)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end.getTime + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** ST12 — USER-PROFILE UPSERT, batch twin: the per-user materialized
    * view a serving layer keeps current (KTable semantics — lifetime
    * event count, lifetime value, latest event). One shuffle on user_id;
    * the election window and the lifetime aggregates ride the same
    * partitioning, so the plan sorts each user's slice once.
    */
  def batchUserProfile(spark: SparkSession, dir: String): DataFrame = {
    val latest = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val perUser = Window.partitionBy(col("user_id"))
    Tables.t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .withColumn("rn", row_number().over(latest))
      .withColumn("n_events", count(lit(1)).over(perUser))
      .withColumn("total_value",
        sum(col("value").cast(DecimalType(18, 2))).over(perUser)
          .cast("double"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("ts").as("last_ts"), col("event_type").as("last_event_type"))
  }

  /** STREAMING user-profile upsert via mapGroupsWithState (Update mode):
    * every batch folds its events into the per-user state and re-emits
    * the updated profile row — a continuously-maintained materialized
    * view, the stateful pattern [[sessionizeStream]]'s append-mode
    * session closure cannot express. State per user is ONE fixed-size
    * record forever (no growth with event count), so total state is
    * bounded by the user population — the KTable scaling contract; a
    * production deployment with a churning key space would add a
    * TTL timeout, which this data model (persistent users) doesn't need.
    */
  def userProfileStream(events: Dataset[EvFull]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[ProfileState, UserProfile](
        GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[EvFull], state: GroupState[ProfileState]) =>
          var s = state.getOption.orNull
          evs.foreach { e =>
            val newer = s == null || e.ts.after(s.lastTs) ||
              (e.ts.equals(s.lastTs) && e.event_id > s.lastId)
            s = ProfileState(
              (if (s == null) 0L else s.n) + 1,
              (if (s == null) 0L else s.cents) + math.round(e.value * 100),
              if (newer) e.ts else s.lastTs,
              if (newer) e.event_id else s.lastId,
              if (newer) e.event_type else s.lastType)
          }
          state.update(s)
          UserProfile(user, s.n, s.cents / 100.0, s.lastTs, s.lastType)
      }
  }

  /** Streaming flavor over the file source; Round12Spec pins its final
    * state to [[batchUserProfile]].
    */
  def streamingUserProfile(spark: SparkSession, dir: String): Dataset[UserProfile] = {
    import spark.implicits._
    userProfileStream(
      Tables.normalizeEventTs(
        spark.readStream
          .schema(Tables.eventsFileSchema(spark, dir))
          .parquet(dir))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .as[EvFull])
  }

  /** ST6 — SLIDING window aggregation (10-minute windows every 5 minutes):
    * each event lands in exactly windowSize/slide = 2 overlapping windows —
    * the smoothed-rates view a monitoring dashboard reads. Spark's
    * `window(ts, size, slide)` expands the assignment MAP-SIDE (one row per
    * covering window, before the shuffle), so the shuffled volume is
    * events × overlap and the stateful-agg key stays (window, type) — the
    * identical transform runs under `readStream` + watermark, like
    * [[windowAgg]].
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  def batchSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    slidingWindowAgg(Tables.t(spark, dir, "events"))

  /** ST7 — gap sessionization via Spark's BUILT-IN `session_window`
    * (dynamic merging windows inside the agg operator, no window function
    * and no custom state): sessions merge while consecutive events are
    * STRICTLY closer than the gap, and `session_window.end` is the last
    * event + gap — the two contract differences from the hand-rolled
    * [[batchSessionize]] (which merges at exactly-gap and reports
    * last-event time). One shuffle on (user_id); per-key state is one
    * merged interval. The same expression runs under `readStream` with a
    * watermark for the streaming flavor.
    */
  def batchSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Per-window sketch size, interpolated into the st8 oracle (no drift). */
  private[graft] val WindowHhK = 8

  /** The per-window Misra–Gries sketch pass of [[batchWindowHeavyHitters]]
    * as a standalone transform: tumbling 1-hour windows, each carrying
    * its ≤k candidate list and exact total. The SAME expression runs
    * under `readStream` + watermark in append mode — the custom
    * `TypedImperativeAggregate` serializes its bounded buffer into the
    * streaming state store exactly as it does into a batch shuffle, so a
    * live deployment streams this pass and exact-verifies downstream
    * (foreachBatch or a daily batch); StreamingSpec pins the streaming
    * flavor's guarantee.
    */
  def windowHeavyHitterSketch(events: DataFrame, k: Int = WindowHhK): DataFrame = {
    graft.plans.GraftFunctions.register(events.sparkSession)
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(call_function("graft_mg_candidates", lit(k), col("event_type"))
          .as("cands"),
        count(lit(1)).as("total"))
      .select(col("window.start").as("window_start"), col("cands"),
        col("total"))
  }

  /** ST8 — windowed heavy hitters: per tumbling hour, the event types
    * taking more than 1/k of that window's traffic, exact. The two-pass
    * sketch-then-verify of `Profiling.dqHeavyHitters` per window: the
    * sketch pass keeps ≤k counters per (window) group in ONE scan, the
    * verify pass counts only (window, candidate) pairs — a broadcast
    * join at candidate cardinality (windows × k) — and the integer
    * `n·k > total` filter makes the result independent of sketch
    * internals. Per-window totals ride the sketch row, so no third pass.
    */
  def batchWindowHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(spark, dir, "events")
    val sketch = windowHeavyHitterSketch(ev)
    val cand = sketch.select(col("window_start"), col("total"),
      explode(col("cands")).as("event_type"))
    ev.select(window(col("ts"), "1 hour").getField("start")
          .as("window_start"), col("event_type"))
      .join(broadcast(cand), Seq("window_start", "event_type"))
      .groupBy(col("window_start"), col("event_type"), col("total"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * WindowHhK > col("total"))
      .select(col("window_start"), col("event_type"), col("n_events"),
        round(col("n_events").cast("double") / col("total"), 6).as("share"))
  }

  /** ST9 — distinct users per tumbling hour, the audience-dashboard
    * staple. BATCH is exact: `count(DISTINCT user_id)` plans as the
    * two-phase Expand + partial-distinct aggregate (per-partition
    * dedup before the shuffle — the wire carries distinct (window,
    * user) pairs, not events). STREAMING cannot run an exact distinct
    * in append mode (state would be unbounded per window and Spark
    * rejects the plan), so the streaming flavor
    * ([[windowApproxDistinctUsers]]) swaps in `approx_count_distinct`
    * — HLL++ state is a fixed few KB per window and the sketch is
    * deterministic for a given input set, so stream == batch-approx
    * exactly; StreamingSpec pins that parity plus the error envelope
    * against the exact count. The two flavors are the documented
    * exact/approx contract pair, not a silent accuracy downgrade.
    */
  def batchWindowDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    // two-level aggregate, NOT countDistinct + count in one agg: the
    // mixed form triggers the distinct-rewrite Expand, which runs every
    // event through the hash aggregate twice (the r16 dq_uniqueness
    // lesson, swept engine-wide); count(user_id) at the top preserves
    // countDistinct's NULL exclusion, sum(c) keeps n_events over ALL rows
    Tables.t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("window"))
      .agg(count(col("user_id")).as("n_users"), sum(col("c")).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_users"),
        col("n_events"))

  /** The streaming-safe approx flavor of [[batchWindowDistinctUsers]]:
    * identical shape with HLL++ distinct (rsd 2%), runnable under
    * `readStream` + watermark in append mode.
    */
  def windowApproxDistinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("n_users_approx"), col("n_events"))

  /** ST10 — STREAM-STREAM interval join, the attribution join run live:
    * every purchase is paired with each of the same user's views from the
    * preceding 30 minutes. The one streaming shape st3–st9 don't cover:
    * TWO unbounded sources joined on key + event-time range. Spark keeps
    * both sides' rows in the state store and the time-range predicate +
    * per-side watermarks bound that state — a view older than
    * (watermark − 30 min) can never match a future purchase, so its state
    * row is evicted; without the range predicate the plan would be
    * rejected/unbounded. Matches emit eagerly (inner join, append mode).
    * At scale this is one shuffle of each stream on user_id and state
    * proportional to 30 minutes of traffic per side — the Kafka-fed
    * production shape (swap the sources to `format("kafka")`).
    */
  def streamStreamJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    views.alias("v").join(purchases.alias("p"),
        col("v.user_id") === col("p.user_id") &&
          col("p.ts") >= col("v.ts") &&
          col("p.ts") <= col("v.ts") + expr("INTERVAL 30 MINUTES"))
      .select(
        col("v.user_id").as("user_id"),
        col("v.event_id").as("view_id"),
        col("v.ts").as("view_ts"),
        col("p.event_id").as("purchase_id"),
        col("p.ts").as("purchase_ts"),
        col("p.value").as("value"))

  /** Batch twin of [[streamStreamJoin]] — the oracle-checked flavor. */
  def batchStreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(spark, dir, "events")
    streamStreamJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
  }

  /** Streaming flavor: one file source branched into the two sides (a
    * self-join of the stream), each watermarked so the join operator can
    * evict state. StreamingSpec pins stream == batch twin.
    */
  def streamingStreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.normalizeEventTs(
      spark.readStream
        .schema(Tables.eventsFileSchema(spark, dir))
        .parquet(dir))
    streamStreamJoin(
      ev.filter(col("event_type") === "view").withWatermark("ts", "1 hour"),
      ev.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour"))
  }

  /** ST11 — STREAMING DRIFT MONITOR, the live sibling of
    * [[graft.operators.Profiling.dqDrift]]: per tumbling day, the
    * Population Stability Index of that day's `value`-bin distribution
    * against a STATIC reference profile (the pre-split half of the
    * events window) — the "is today's traffic still shaped like the
    * data we trained on?" alarm, evaluated continuously.
    *
    * The bin histogram is ONE streaming-legal aggregation: bins are a
    * fixed small set, so each day's counts are |bins| conditional sums
    * in a single groupBy(window) — no second normalization pass, which
    * append-mode streaming could not express. The reference profile is
    * collected ONCE at monitor build (|bins| longs — the bounded-collect
    * convention of the IVF codebooks) and folded into the map-side psi
    * expression, exactly how a production monitor loads its reference
    * profile at deploy time. The psi sum is a FIXED-ORDER expression
    * tree over per-term-rounded bin contributions, so neither engine's
    * aggregation order can drift the emitted value.
    *
    * Scale shape: streaming state is one row of |bins| longs per open
    * day window; batch flavor is two scans (1-row reference aggregate +
    * the windowed conditional aggregate). Nothing grows with corpus
    * size but the scan itself.
    */
  private def driftBin: Column =
    least(floor(col("value") / Profiling.DriftBucketWidth),
      lit(Profiling.DriftBuckets)).cast("int")

  private def driftBinIds: Seq[Int] = 0 to Profiling.DriftBuckets

  /** Reference bin shares from the pre-split half — one 1-row aggregate,
    * collected at build time (bounded: |bins|+1 longs).
    */
  private[graft] def driftReferenceShares(spark: SparkSession,
      dir: String): Seq[Double] = {
    val aggs = driftBinIds.map(b =>
      sum(when(driftBin === b, 1L).otherwise(0L)).as(s"r$b")) :+
      count(lit(1)).as("rt")
    val row = Tables.t(spark, dir, "events")
      .filter(col("ts") < lit(Profiling.DriftSplit).cast("timestamp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()(0)
    val rt = row.getLong(driftBinIds.length).toDouble
    // loud empty-reference contract: the conditional sums are NULL over
    // zero rows and shares would be 0/0 — name the cause instead
    require(rt > 0,
      s"drift monitor: reference profile is empty — no events before " +
        s"${Profiling.DriftSplit} in $dir; a monitor needs a non-empty " +
        "reference window to normalize bin shares against")
    driftBinIds.map(b => row.getLong(b) / rt)
  }

  /** Day-windowed bin histogram + psi against `refShares` — the transform
    * shared verbatim by the batch twin and the streaming flavor.
    */
  def driftMonitor(events: DataFrame, refShares: Seq[Double]): DataFrame = {
    val binCounts = driftBinIds.map(b =>
      sum(when(driftBin === b, 1L).otherwise(0L)).as(s"c$b"))
    val psi = driftBinIds.map { b =>
      val p = math.max(refShares(b), Profiling.DriftEps)
      val q = greatest(col(s"c$b").cast("double") / col("n_events"),
        lit(Profiling.DriftEps))
      round((q - lit(p)) * log(q / lit(p)), 4)
    }.reduce(_ + _)
    events
      .filter(col("ts") >= lit(Profiling.DriftSplit).cast("timestamp"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"), binCounts: _*)
      .select(col("window.start").as("window_start"), col("n_events"),
        round(psi, 4).as("psi"))
  }

  /** Batch twin — oracle-checked (st11). */
  def batchDriftMonitor(spark: SparkSession, dir: String): DataFrame =
    driftMonitor(Tables.t(spark, dir, "events"),
      driftReferenceShares(spark, dir))

  /** Streaming flavor: watermarked day windows over the file source,
    * reference profile loaded at build time. StreamingSpec-style parity
    * with the batch twin is pinned in Round12Spec.
    */
  def streamingDriftMonitor(spark: SparkSession, dir: String): DataFrame =
    driftMonitor(
      Tables.normalizeEventTs(
        spark.readStream
          .schema(Tables.eventsFileSchema(spark, dir))
          .parquet(dir))
        .withWatermark("ts", "1 hour"),
      driftReferenceShares(spark, dir))

  /** ST13 — STREAM-STATIC enrichment join: every incoming event joins a
    * static dimension (the per-user first-seen profile) inside its
    * micro-batch, then aggregates per (day window, event_type, tenure
    * bucket) — the "enrich the stream with reference data" shape nearly
    * every production consumer has. The stream-static join is STATELESS:
    * the static side re-plans per micro-batch (broadcast here because the
    * profile is the bounded user population; an unbounded key space
    * would leave it a shuffled hash join — still stateless), so the only
    * streaming state is the windowed count, bounded by watermark ×
    * group cardinality. The event-time column rides through the join
    * untouched, so the watermark stays valid downstream.
    */
  def enrichAgg(events: DataFrame, profile: DataFrame): DataFrame = {
    val tenure = datediff(to_date(col("ts")), col("first_day"))
    events.join(broadcast(profile), "user_id")
      .withColumn("tenure_bucket",
        when(tenure < 7, "new").when(tenure < 21, "active")
          .otherwise("veteran"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        col("tenure_bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"), col("tenure_bucket"), col("n_events"))
  }

  /** The static side: each user's first-seen day (one shuffle, computed
    * once at stream build — a serving deployment would refresh it on its
    * own cadence and the join picks the new snapshot up next batch).
    */
  def userFirstDay(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first_day"))

  /** Batch twin — oracle-checkable (st13). */
  def batchEnrichAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(spark, dir, "events")
    enrichAgg(ev, userFirstDay(ev))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st13_stream_enrich" -> (batchEnrichAgg _),
    "st12_user_profile" -> (batchUserProfile _),
    "st11_drift_monitor" -> (batchDriftMonitor _),
    "st10_stream_stream_join" -> (batchStreamStreamJoin _),
    "st3_window_agg" -> (batchWindowAgg _),
    "st4_sessionize" -> (batchSessionize _),
    "st6_sliding_window" -> (batchSlidingWindow _),
    "st7_session_window" -> (batchSessionWindow _),
    "st8_window_heavy_hitters" -> (batchWindowHeavyHitters _),
    "st9_window_distinct_users" -> (batchWindowDistinctUsers _),
  )

  private def st11OracleSql: String = {
    val w = Profiling.DriftBucketWidth
    val bMax = Profiling.DriftBuckets
    val split = Profiling.DriftSplit
    val eps = Profiling.DriftEps
    def binCase(b: Int) =
      s"CASE WHEN least(floor(value / $w), $bMax) = $b THEN 1 ELSE 0 END"
    val refSums = driftBinIds.map(b =>
      s"CAST(sum(${binCase(b)}) AS BIGINT) AS r$b").mkString(", ")
    val curSums = driftBinIds.map(b =>
      s"CAST(sum(${binCase(b)}) AS BIGINT) AS c$b").mkString(", ")
    def q(b: Int) = s"greatest(CAST(c$b AS DOUBLE) / n_events, $eps)"
    def p(b: Int) = s"greatest(CAST(r$b AS DOUBLE) / rt, $eps)"
    val psiTerms = driftBinIds.map(b =>
      s"round((${q(b)} - ${p(b)}) * ln(${q(b)} / ${p(b)}), 4)")
      .mkString(" + ")
    s"""
      WITH ref AS (SELECT $refSums, count(*) AS rt
                   FROM events WHERE ts < TIMESTAMP '$split'),
      cur AS (SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                count(*) AS n_events, $curSums
              FROM events WHERE ts >= TIMESTAMP '$split' GROUP BY 1)
      SELECT window_start, n_events, round($psiTerms, 4) AS psi
      FROM cur, ref"""
  }

  val oracle: Map[String, String] = Map(
    "st13_stream_enrich" -> """
      WITH fs AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS first_day
        FROM events GROUP BY 1)
      SELECT CAST(e.ts AS DATE) AS day, e.event_type,
        CASE WHEN CAST(e.ts AS DATE) - fs.first_day < 7 THEN 'new'
             WHEN CAST(e.ts AS DATE) - fs.first_day < 21 THEN 'active'
             ELSE 'veteran' END AS tenure_bucket,
        count(*) AS n_events
      FROM events e JOIN fs USING (user_id)
      GROUP BY 1, 2, 3""",
    "st12_user_profile" -> """
      WITH r AS (
        SELECT user_id, ts, event_id, event_type,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id) AS DOUBLE) AS total_value
        FROM events)
      SELECT user_id, CAST(n_events AS BIGINT) AS n_events, total_value,
             ts AS last_ts, event_type AS last_event_type
      FROM r WHERE rn = 1""",
    "st11_drift_monitor" -> st11OracleSql,
    "st10_stream_stream_join" -> """
      SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts, p.value
      FROM events v JOIN events p
        ON v.user_id = p.user_id
      WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE""",
    "st9_window_distinct_users" -> """
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY 1""",
    "st8_window_heavy_hitters" -> s"""
      WITH tot AS (SELECT time_bucket(INTERVAL '1 hour', ts)
                     AS window_start, count(*) AS total
                   FROM events GROUP BY 1)
      SELECT t.window_start, e.event_type, count(*) AS n_events,
        round(CAST(count(*) AS DOUBLE) / t.total, 6) AS share
      FROM events e JOIN tot t
        ON time_bucket(INTERVAL '1 hour', e.ts) = t.window_start
      GROUP BY 1, 2, t.total HAVING count(*) * $WindowHhK > t.total""",
    "st3_window_agg" -> """
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             event_type, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""",
    "st4_sessionize" -> """
      WITH d AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      s AS (
        SELECT user_id, ts, value,
          CAST(sum(new_s) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
        FROM d)
      SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM s GROUP BY 1, 2""",
    "st6_sliding_window" -> """
      WITH wins AS (
        SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                       time_bucket(INTERVAL '5 minutes', ts)
                         - INTERVAL '5 minutes']) AS window_start,
               event_type, value
        FROM events)
      SELECT window_start, event_type, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM wins GROUP BY 1, 2""",
    "st7_session_window" -> """
      WITH d AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      s AS (
        SELECT user_id, ts, value,
          CAST(sum(new_s) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
        FROM d)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL '30 minutes' AS session_end,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM s GROUP BY user_id, session_id""",
  )
}
