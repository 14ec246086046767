package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.QueryStageThreads

/** The library's session-configuration contract, applied ONCE at session
  * construction. graft query functions never mutate session conf themselves
  * (a per-query `spark.conf.set` is an ambient, order-dependent side effect
  * on a shared session); instead every session that runs graft queries is
  * passed through `tune` by whoever owns the builder (Bench / Verify /
  * Main / the test harness — and `SparkEntry.entry` defensively, since the
  * driver owns that session).
  *
  * The two confs and why they are required:
  *
  *  - `spark.sql.ansi.enabled=false` — the reference's cleaning semantics
  *    are null-on-failure end to end (try/except date-parse drop at
  *    dags/projectde_dag.py:89-93, dict.get day default at :68-76,
  *    null-safe score split at :100-102). Spark 4's ANSI default would
  *    throw on the same inputs (to_date parse, map element_at miss,
  *    short-array index, bad casts).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — fixture generations
  *    of the events table that store TIMESTAMP(NANOS) parquet would
  *    otherwise be rejected outright ([PARQUET_TYPE_ILLEGAL]); with the
  *    conf set they arrive as LongType nanos and Tables.normalizeEventTs
  *    rebuilds a microsecond timestamp with integer arithmetic. The conf
  *    is a no-op for fixtures that store plain micros TIMESTAMP (the
  *    current generation) — normalizeEventTs branches on the physical
  *    type, so both encodings work under one session contract.
  *
  * The rest of the contract cannot go through `tune`, because it must be
  * in place when the session is BUILT: [[buildConf]]. It holds the no-fork
  * `file:` filesystem ([[graft.io.NoForkLocalFileSystem]] and its
  * FileContext twin [[graft.io.NoForkLocalFs]]); Hadoop's filesystem
  * cache keeps the first `file:` instance a JVM creates, so a later
  * `spark.conf.set` never reaches it. It also holds the codegen cache
  * size ([[CodegenCacheEntries]]), which Spark fixes, JVM-wide, at the
  * first code generation. Every builder the repo owns (`local`, `Main`,
  * the test harness) passes `buildConf`.
  */
object GraftSession {

  /** Size of Spark's codegen cache, which keeps compiled generated
    * classes keyed by their source. Spark's default is 100, but one
    * cycle of the corpus index ingest, consumers and round loops (sf0.03)
    * generates about 290 distinct classes, touched in the same order
    * every cycle. At 100 the LRU cache evicted each class before its
    * reuse, so every cycle compiled everything again: about 336 Janino
    * compiles, 6-6.5 s of compile time in a 13 s cycle. 1024 holds that
    * working set three times over; the retained classes cost about 5 MB
    * of heap. The cache is JVM-wide, and Spark sizes it from the active
    * session's conf at the first code generation in the JVM
    * (`spark.sql.codegen.cache.maxEntries` is a static conf), so it is
    * set here, when the session is built; later sessions in the same
    * JVM share that cache. Per-run values such as the pipeline's `asOf`
    * enter plans as [[graft.plans.BoundValue]]s, so daily runs reuse
    * their classes instead of filling the cache.
    */
  val CodegenCacheEntries = 1024

  /** Build-time confs.
    *
    *  - Local (`file:`) reads and writes go through the stock checksummed
    *    local filesystem, except that permission changes and link-status
    *    lookups run in-process instead of forking `chmod` or `readlink`.
    *    Only the `file:` scheme is affected; HDFS, S3 and every other
    *    scheme keep their own filesystems.
    *  - Spark's status store keeps only the last SQL execution, job and
    *    stage. At its defaults (1000 of each) a long-lived session holds
    *    every run's plans and task data in driver heap, and nothing in
    *    the library reads them. `spark.sql.ui.retainedExecutions` is a
    *    static SQL conf, so it must be set when the session is built.
    *  - Spark's codegen cache holds [[CodegenCacheEntries]] compiled
    *    classes instead of 100 (see there).
    *  - Generated whole-stage classes are not named after their stage id.
    *    AQE numbers codegen stages in the order their query stages
    *    materialize, so the same stage got a different class name, hence
    *    different source and a fresh compile, from one run to the next:
    *    26-34 of a corpus pass's ~240 classes compiled again on every
    *    pass. Plans and `explain` output still show the ids.
    */
  val buildConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.io.NoForkLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.io.NoForkLocalFs].getName,
    "spark.sql.ui.retainedExecutions" -> "1",
    "spark.ui.retainedJobs" -> "1",
    "spark.ui.retainedStages" -> "1",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Stable per-session identity for [[SessionArtifacts]]' keys.
    * `System.identityHashCode(spark)` (the old key) can COLLIDE: after a
    * session is GC'd its hash value can be reissued to a new session,
    * which would then silently read the dead session's cache entries.
    * A weak-keyed UUID map cannot collide, and its entries vanish with
    * the session instead of pinning it. (SparkSession itself exposes no
    * UUID in the classic API — this is the library's substitute.)
    */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()

  private[graft] def sessionId(spark: SparkSession): String =
    sessionIds.synchronized {
      Option(sessionIds.get(spark)).getOrElse {
        val id = java.util.UUID.randomUUID().toString
        sessionIds.put(spark, id)
        id
      }
    }

  /** Release every artifact the graft operators have memoized for
    * `spark` in [[SessionArtifacts]]: the Dedup signature and pair
    * indexes, the IVF index, the image indexes, the cleaned corpus, the
    * cluster labels and graph-loop results, the daily event aggregate,
    * the replayed Kafka logs, the eval shingles and the probe-set
    * broadcasts. Each goes by its own policy: persisted frames are
    * unpersisted (blocking, so executor memory is free on return),
    * checkpoints freed, broadcasts destroyed, driver-heap values evicted.
    * Pass `dir` to release a single corpus only. Queries stay valid
    * afterwards — the next consumer rebuilds the index. Bench and Verify
    * call this at teardown; long-lived sessions should call it between
    * corpora.
    */
  def release(spark: SparkSession, dir: Option[String] = None): Unit =
    SessionArtifacts.release(spark, dir)

  /** Restore the persisted dedup + IVF index artifacts for `dir`.
    * Sequential on purpose: an r18 A/B (phases A vs S of a since-deleted
    * probe) found Future-based concurrent restore NO faster than
    * back-to-back calls — at restore scale the wall clock is bound by
    * the driver's single-threaded scheduling of tiny jobs, which
    * concurrency cannot overlap — so the simple form is the honest one.
    */
  def loadIndexes(spark: SparkSession, dir: String, dedupPath: String,
      ivfPath: String): Unit = {
    graft.operators.Dedup.loadDedupIndex(spark, dir, dedupPath)
    graft.operators.Similarity.loadIvfIndex(spark, dir, ivfPath)
  }

  /** Apply the library conf contract to an existing session (idempotent),
    * and install the graft function/rule/strategy registry so SQL users
    * get `graft_*` functions and the custom operators without a separate
    * registration call. AQE's callback threads are made to start without
    * inherited local properties ([[QueryStageThreads]]), so no late job
    * carries an ended SQL execution or another caller's job group.
    */
  def tune(spark: SparkSession): SparkSession = {
    QueryStageThreads.isolate()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the TIMESTAMP_NTZ → TIMESTAMP normalization (Tables.normalizeEventTs)
    // and all formatted-time output are exact/deterministic only under a
    // pinned session zone; the library's own builders set it too, this
    // covers driver-owned sessions passed in from outside
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.plans.GraftFunctions.register(spark)
    spark
  }

  /** Standard local session for the library's own mains: `cpus` shuffle
    * partitions, on `master` (default `local[cpus]`). */
  def local(appName: String, cpus: String,
      master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(buildConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
