package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SessionArtifacts
import graft.Tables.t
import graft.functions.CentroidAggregator

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (`array<float>`, dim 64).
  *
  * Scale design:
  *  - BRUTE-FORCE top-k is the correctness baseline: every (query,
  *    candidate) pair scored. Fine for 10 queries × N; quadratic in
  *    general — it exists to measure the ANN variants' recall.
  *  - LSH-BUCKETED ANN is the scale path: each vector gets a
  *    sign-of-hyperplane-dot bucket key computed map-side per row (no
  *    shuffle); search joins query buckets to candidate buckets
  *    (equi-join on the key → hash join, broadcastable query side) and
  *    reranks only within-bucket candidates exactly. At 100 TB the bucket
  *    table is the index; hyperplanes come from deterministic integer
  *    arithmetic so the index is reproducible anywhere (and by the SQL
  *    oracle).
  *  - CENTROID per label uses the custom typed Aggregator (§2.10) — the
  *    same shape an IVF coarse quantizer would train with.
  */
object Similarity {

  /** Codegen'd cosine for the hot scoring joins: `graft_cosine`
    * (plans.CosineSim → LshVectors.cosine) folds dot and both norms
    * left-to-right in double and evaluates dot/(√na·√nb) — BIT-IDENTICAL
    * to the HOF `dotAB / (a.nrm * b.nrm)` path (same element order, same
    * association), so every rounded-6dp discrete choice downstream is
    * unchanged and the DuckDB oracles stay exact. Unlike the HOF form it
    * allocates no per-pair intermediate array and runs inside
    * WholeStageCodegen, which matters on the candidate-scoring joins
    * where it executes once per (query, candidate).
    */
  private def cosAB(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr(
      """sqrt(aggregate(transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         CAST(0 AS DOUBLE), (a, v) -> a + v))"""))

  /** Rank cap of [[rankTopK]]: the k of every ANN variant's top-k and
    * the kNN-eval vote size, interpolated into the oracles (no drift). */
  private[operators] val AnnK = 5

  /** Rerank idiom for every ANN variant: the native TopKPerKey operator
    * (plans/TopK.scala) caps the scored relation at k rows per qid with
    * bounded heaps — partial pass before the shuffle, NO sort of the
    * candidate set — and only the k×|queries| survivors reach the
    * row_number window that assigns the output ranks. The window idiom
    * alone (`row_number().over(partitionBy(qid))` on the full scored
    * relation) shuffles and SORTS every candidate per query: harmless at
    * 10 queries, the dominant cost at production query volume. Heap
    * ordering (ord, then tie=vec_id asc) matches the window's ordering
    * exactly, so results are identical; SimilaritySpec pins the plan shape
    * (TopKPerKeyExec present, no Sort below it).
    */
  private def rankTopK(scored: DataFrame, ordCol: String,
      desc: Boolean): DataFrame = {
    graft.plans.GraftFunctions.register(scored.sparkSession)
    val capped = scored.filter(call_function("graft_topk", lit(AnnK),
      col(ordCol), lit(if (desc) "desc" else "asc"),
      col("vec_id"), col("qid")))
    val w = Window.partitionBy(col("qid")).orderBy(
      if (desc) col(ordCol).desc else col(ordCol).asc, col("vec_id").asc)
    capped.withColumn("rank", row_number().over(w))
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 10 — the EVAL
    * BASELINE the ANN family's recall is measured against
    * ([[simRecallAtK]]); quadratic by definition. The scale paths are
    * the LSH buckets ([[simLshAnn]]/[[simLshMultiprobe]]) and the IVF
    * lists ([[simIvfAnn]]); PlanShapeSpec gates this function to
    * eval-only use.
    */
  def simTopkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
    val q = emb.filter(col("vec_id") < 10)
    val scored = q.as("a").join(emb.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", cosAB(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"), col("cos"))
    rankTopK(scored, "cos", desc = true)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Deterministic random-hyperplane bucket key: 4 sign bits. Plane p,
    * dim d has integer weight ((p·97 + d·31 + 13) mod 17) − 8 — pure
    * arithmetic, reproducible in any engine, no stored model.
    */
  private[operators] val bucketExpr =
    """array_join(transform(sequence(0, 3), p ->
       CASE WHEN aggregate(transform(sequence(0, 63),
         d -> CAST(embedding[d] AS DOUBLE)
              * CAST((p * 97 + d * 31 + 13) % 17 - 8 AS DOUBLE)),
         CAST(0 AS DOUBLE), (acc, v) -> acc + v) > 0
       THEN '1' ELSE '0' END), '')"""

  /** r18 optimization round: the 4-bit sign bucket as the NATIVE
    * [[graft.plans.LshBucket]] expression (codegen'd static call) instead
    * of the interpreted HOF form above — per corpus row the HOF built a
    * 64-element array and tree-walked a lambda per element, ×4 planes.
    * `LshVectors.bucketOf` runs the identical left-to-right double fold
    * over the identical integer hyperplane weights (the expression has
    * been the join-key twin of this arithmetic since LshJoinRewrite
    * landed), so buckets are bit-identical on the 64-dim corpus;
    * Opt18Spec pins native == HOF parity, [[bucketExpr]] stays as the
    * reference. */
  private def bucketCol: Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.LshBucket(
        org.apache.spark.sql.GraftColumnBridge.expression(col("embedding"))))

  /** LSH-bucketed ANN: top-5 within the query's bucket only. */
  def simLshAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
      .withColumn("bucket", bucketCol)
    val q = emb.filter(col("vec_id") < 10)
    val scored = q.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", cosAB(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"), col("cos"))
    rankTopK(scored, "cos", desc = true)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Multi-probe LSH ANN: each query probes its own bucket plus every
    * bucket at hamming distance 1 (5 of 16 buckets with 4 sign bits) —
    * the standard recall/cost dial for sign-LSH: candidate volume rises
    * ~5×, recall rises far more (a near neighbor differs in at most a few
    * sign bits). Probe keys are computed map-side on the (tiny) query
    * side only; the candidate side is untouched.
    */
  def simLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
      .withColumn("bucket", bucketCol)
    val q = emb.filter(col("vec_id") < 10)
      .withColumn("probe", explode(expr(
        """concat(array(bucket), transform(sequence(0, 3), i ->
           concat(substr(bucket, 1, i),
             CASE WHEN substr(bucket, i + 1, 1) = '1' THEN '0' ELSE '1' END,
             substr(bucket, i + 2, 4))))""")))
    val scored = q.as("a").join(emb.as("b"),
        col("a.probe") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", cosAB(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"), col("cos"))
    rankTopK(scored, "cos", desc = true)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** [[simRangeSearch]]'s radius τ, interpolated into the oracle. */
  private[operators] val RangeTau = 0.25

  /** RANGE (radius) similarity search: every corpus neighbor with
    * cosine ≥ τ of each panel query — the "find ALL near matches"
    * semantics top-k cannot express (dedup sweeps, policy screens,
    * coverage audits want every hit, not the best 5). Candidates come
    * from the multi-probe LSH buckets (query's bucket + all hamming-1
    * probes, keys computed map-side on the tiny query side), exact
    * cosine refines, and the τ predicate — on the 6-dp ROUNDED cosine,
    * so membership can't flip on engine ulp differences — replaces the
    * top-k heap. No rank, no window, no sort: the output is a set.
    *
    * Scale shape: identical to [[simLshMultiprobe]]'s bucket equi-join
    * (candidate volume is probes × bucket occupancy, never all-pairs);
    * the refine is one codegen'd expression per candidate row.
    */
  def simRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
      .withColumn("bucket", bucketCol)
    val q = emb.filter(col("vec_id") < 10)
      .withColumn("probe", explode(expr(
        """concat(array(bucket), transform(sequence(0, 3), i ->
           concat(substr(bucket, 1, i),
             CASE WHEN substr(bucket, i + 1, 1) = '1' THEN '0' ELSE '1' END,
             substr(bucket, i + 2, 4))))""")))
    q.as("a").join(emb.as("b"),
        col("a.probe") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos_sim",
        round(cosAB(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("cos_sim") >= RangeTau)
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"),
        col("cos_sim"))
  }

  /** Driver-held coarse codebook: (cid, centroid as doubles, L2 norm) —
    * tens of rows, burned into plan literals (broadcast-equivalent).
    */
  private type Codebook = Seq[(Long, Seq[Double], Double)]

  /** Unrounded cosine of `e` (norm `n`) to every centroid of `code` —
    * full precision for the triangle-inequality bounds; DISCRETE choices
    * round to 6 dp downstream (the IVF family convention).
    */
  private def udistsOf(code: Codebook)(e: Column, n: Column): Column = {
    val sorted = code.sortBy(_._1)
    val cVecs = typedLit(sorted.map(_._2))
    val cNrms = typedLit(sorted.map(_._3))
    // graft_dot_fd = the HOF fold's exact double sequence in a native
    // loop (the centroid side is a plan-literal array<double>); this is
    // the k-cosines-per-corpus-row assignment kernel, so the inner fold
    // dominates the full-corpus IVF passes
    transform(sequence(lit(0), lit(sorted.length - 1)), p =>
      call_function("graft_dot_fd", e, element_at(cVecs, p + 1)) /
        (n * element_at(cNrms, p + 1)))
  }

  /** Owner of Similarity's session artifacts in [[graft.SessionArtifacts]]. */
  private[graft] final val Owner = "similarity"

  /** Session-memoized IVF CORPUS INDEX per (session, corpus dir): the
    * seeded codebook, the cid-ASSIGNED corpus (vec_id, label, embedding,
    * nrm, cid, ccos — one argmax of 16 centroid cosines per vector, the
    * step that touches all N rows) and the per-list angular radii
    * (16 tiny rows), both persisted MEMORY_AND_DISK and materialized
    * once.
    *
    * These are CORPUS properties, not query properties — in production
    * the assigned table is written at INGEST time, exactly like Dedup's
    * signature index, and every searcher ([[simIvfAnn]],
    * [[simIvfPqAnn]], [[knnExactScored]]) reads it instead of
    * recomputing the full-corpus centroid dots per run (the round-9
    * verdict's top cost finding). Bench times the build as its
    * `index_build` row; [[graft.GraftSession.release]] unpins it.
    */
  private val IvfKind = SessionArtifacts.Kind(Owner, "ivf")

  private val freeIvf: ((Codebook, DataFrame, DataFrame)) => Unit = {
    case (_, a, r) => a.unpersist(blocking = true); r.unpersist(blocking = true)
  }

  /** Materialize the session's IVF index for `dir` (ingest-time cost —
    * Bench's `index_build` row).
    */
  def buildIvfIndex(spark: SparkSession, dir: String): Unit = {
    ivfIndex(spark, dir); ()
  }

  /** PERSIST the IVF index as three parquet tables (codebook, per-vector
    * assignment, per-list radii) — the artifact a production deployment
    * writes at ingest time so queries NEVER pay the corpus pass again,
    * across restarts, sessions, or clusters. The assignment table
    * deliberately carries embedding+norm: the exact-rerank stage reads
    * only probed lists from it, so at 100 TB this is the table that gets
    * bucketed by `cid` and the raw corpus is never touched at query
    * time.
    */
  def saveIvfIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val (code, assigned, radii) = ivfIndex(spark, dir)
    import spark.implicits._
    code.toDF("cid", "centroid", "cnorm")
      .write.mode("overwrite").parquet(s"$path/codebook")
    assigned.write.mode("overwrite").parquet(s"$path/assigned")
    radii.write.mode("overwrite").parquet(s"$path/radii")
  }

  /** The persisted codebook — a bounded collect (≤ [[MaxIvfK]] rows by
    * the build-side cap), never a corpus read.
    */
  private def readCodebook(spark: SparkSession, path: String): Codebook =
    spark.read.parquet(s"$path/codebook")
      .collect()
      .map(r => (r.getAs[Long]("cid"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toVector: Seq[Double],
        r.getAs[Double]("cnorm")))
      .sortBy(_._1).toSeq

  /** LOAD a persisted IVF index and install it as `dir`'s session index:
    * every ANN/semantic-prune/kNN query then reads the restored artifact
    * — provably identical results to the freshly-built index (spec-
    * pinned), with zero corpus passes. The restart story the memoized
    * in-session cache alone cannot give.
    */
  def loadIvfIndex(spark: SparkSession, dir: String, path: String): Unit = {
    SessionArtifacts.install(spark, dir, IvfKind) {
      val assigned = spark.read.parquet(s"$path/assigned")
        .persist(StorageLevel.MEMORY_AND_DISK)
      assigned.count()
      // radii stays LAZY: it is |codebook| rows — its first consumer
      // materializes it for pennies, while an eager count here is a whole
      // extra driver job on the restart path (r18 index_load attribution:
      // at restore time job COUNT, not bytes, dominates)
      val radii = spark.read.parquet(s"$path/radii")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (readCodebook(spark, path), assigned, radii)
    }(freeIvf)
    ()
  }

  /** The deterministic "late-arriving batch" the incremental-admission
    * family carves out of the corpus: every 8th vector, minus the
    * codebook seed range, so the seeded codebook over the base equals the
    * full-corpus codebook and incremental-vs-rebuild identity is exact.
    */
  private[operators] def incrBatchCond: Column =
    col("vec_id") % 8 === 7 && col("vec_id") >= 16

  /** Persist an IVF index over the subset of `dir`'s corpus matching
    * `pred` — the BACKFILL half of the production index lifecycle: index
    * the historical corpus once, then admit each arriving batch with
    * [[updateIvfIndex]] instead of re-clustering. Same three artifacts as
    * [[saveIvfIndex]].
    */
  private[operators] def saveIvfIndexWhere(spark: SparkSession, dir: String,
      path: String, pred: Column): Unit = {
    import spark.implicits._
    val emb = withNorm(t(spark, dir, "embeddings")).filter(pred)
    val sorted = seededCodebook(emb).sortBy(_._1)
    val assigned = assignSeeded(emb, sorted)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      sorted.toDF("cid", "centroid", "cnorm")
        .write.mode("overwrite").parquet(s"$path/codebook")
      assigned.write.mode("overwrite").parquet(s"$path/assigned")
      radiiOf(assigned).write.mode("overwrite").parquet(s"$path/radii")
    } finally assigned.unpersist(blocking = true)
  }

  /** Incremental IVF index maintenance (VERDICT r17 #5 — the similarity
    * sibling of `dedup_incremental`): admit the vectors matching
    * `batchPred` into the PERSISTED index at `path` WITHOUT re-clustering
    * or touching the already-indexed corpus — the per-batch cost of a
    * streaming ingest against a 100 TB index. Three steps, none of them
    * a base-corpus pass:
    *
    *   1. read the persisted codebook (bounded, ≤ [[MaxIvfK]] rows);
    *   2. assign ONLY the batch map-side (k cosines per batch vector
    *      against plan-literal centroids) and APPEND it to the assigned
    *      table — at scale this is the parquet partition-append a
    *      cid-bucketed table gets for free;
    *   3. merge per-list radii: angle is monotone-decreasing in cosine,
    *      so max(old radius, batch radius) IS the union's radius (same
    *      doubles — acos is deterministic and semi-monotonic), and the
    *      merge is a codebook-sized collect, never a corpus read.
    *
    * A subsequent [[loadIvfIndex]] serves exactly the index a full
    * rebuild over base+batch would build (the codebook is unchanged and
    * assignment is per-row in it) — Round18Spec pins that identity
    * query-for-query against a fresh rebuild.
    */
  def updateIvfIndex(spark: SparkSession, dir: String, path: String,
      batchPred: Column): Unit = {
    import spark.implicits._
    val sorted = readCodebook(spark, path).sortBy(_._1)
    val batch = withNorm(t(spark, dir, "embeddings")).filter(batchPred)
    val assignedBatch = assignSeeded(batch, sorted)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assignedBatch.write.mode("append").parquet(s"$path/assigned")
      // the radii artifact is overwritten, so materialize the merge
      // driver-side first (≤ MaxIvfK rows — the bounded-codebook
      // pattern) rather than reading and overwriting the same files in
      // one query
      val merged = spark.read.parquet(s"$path/radii")
        .union(radiiOf(assignedBatch))
        .groupBy("r_cid").agg(max(col("radius")).as("radius"))
        .collect()
        .map(r => (r.getAs[Long]("r_cid"), r.getAs[Double]("radius")))
        .toSeq
      merged.toDF("r_cid", "radius")
        .write.mode("overwrite").parquet(s"$path/radii")
    } finally assignedBatch.unpersist(blocking = true)
  }

  /** Per-list state after incrementally admitting the [[incrBatchCond]]
    * batch into the base index — (cid, n_base, n_new, n_total, radius):
    * the oracle-checked face of [[updateIvfIndex]]. The base side reads
    * ONLY the session's stored assignment table (an aggregation of the
    * index — zero cosine work on indexed vectors); the batch side runs
    * the map-side assignment kernel over the arriving 1/8 of the corpus;
    * the merge is a full-outer join of two codebook-sized aggregates.
    * Radius merges as greatest(base, batch) — exactly the union's
    * radius, the [[updateIvfIndex]] argument. The DuckDB oracle assigns
    * the union flat and aggregates once: hash equality IS the
    * incremental-equals-rebuild proof at sf0.01, every round.
    */
  def simIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (code, assigned, _) = ivfIndex(spark, dir)
    val isBatch = incrBatchCond
    def stats(df: DataFrame, nCol: String, rCol: String): DataFrame =
      df.groupBy("cid").agg(
        count(lit(1)).as(nCol),
        acos(least(lit(1.0), greatest(lit(-1.0), min(col("ccos")))))
          .as(rCol))
    val baseStats = stats(assigned.filter(!isBatch), "n_base", "r_base")
    val batch = withNorm(t(spark, dir, "embeddings")).filter(isBatch)
    val batchStats =
      stats(assignSeeded(batch, code.sortBy(_._1)), "n_new", "r_new")
    baseStats.join(batchStats, Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_total"),
        // greatest skips NULLs: a list with members on one side only
        // keeps that side's radius
        round(greatest(col("r_base"), col("r_new")), 6).as("radius"))
      .orderBy("cid")
  }

  /** The list-assignment kernel shared by the index build, the persisted
    * backfill, incremental batch admission, and the k-means rounds and
    * search of [[simIvfKmeansAnn]]: cid = argmax of ROUNDED
    * cosine (ties to the lowest cid, the family's discrete-choice
    * convention); ccos = UNROUNDED cosine to the chosen centroid (the
    * bounds need full precision). Map-side only — k cosines per row
    * against plan-literal centroids, no shuffle.
    */
  private def assignSeeded(emb: DataFrame, sorted: Codebook): DataFrame = {
    val cIds = typedLit(sorted.map(_._1))
    emb
      .withColumn("ud", udistsOf(sorted)(col("embedding"), col("nrm")))
      .withColumn("rd", transform(col("ud"), d => round(d, 6)))
      .withColumn("pos",
        array_position(col("rd"), array_max(col("rd"))).cast("int"))
      .withColumn("cid", element_at(cIds, col("pos")))
      .withColumn("ccos", element_at(col("ud"), col("pos")))
      .drop("ud", "rd", "pos")
  }

  /** Per-list angular radius r_i = max member angle = acos of the
    * clamped MIN member cosine — |codebook| rows from a map-side
    * partial-agg groupBy.
    */
  private def radiiOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid").as("r_cid"))
      .agg(acos(least(lit(1.0), greatest(lit(-1.0), min(col("ccos")))))
        .as("radius"))

  private[operators] def ivfIndex(spark: SparkSession, dir: String)
      : (Codebook, DataFrame, DataFrame) =
    SessionArtifacts.getOrBuild(spark, dir, IvfKind) {
      val emb = withNorm(t(spark, dir, "embeddings"))
      val sorted = seededCodebook(emb).sortBy(_._1)
      val assigned = assignSeeded(emb, sorted)
        .persist(StorageLevel.MEMORY_AND_DISK)
      assigned.count() // materialize: the corpus pass runs exactly once
      val radii = radiiOf(assigned)
        .persist(StorageLevel.MEMORY_AND_DISK)
      radii.count()
      (sorted, assigned, radii)
    }(freeIvf)

  /** The 4-nearest-centroid probe relation for queries vec_id < 10 —
    * rounded cos desc, cid asc, computed map-side on the (tiny) query
    * side only. `assigned` may be the session-memoized index or a
    * freshly assigned frame (k-means path) — it only needs (vec_id,
    * embedding, nrm).
    */
  private def ivfProbes(assigned: DataFrame, code: Codebook): DataFrame = {
    val sorted = code.sortBy(_._1)
    val k = sorted.length
    val cIds = typedLit(sorted.map(_._1))
    val dists = transform(udistsOf(sorted)(col("embedding"), col("nrm")),
      d => round(d, 6))
    assigned.filter(col("vec_id") < 10)
      .withColumn("dists", dists)
      .withColumn("probe", explode(transform(
        slice(array_sort(transform(sequence(lit(0), lit(k - 1)), p =>
          struct((-element_at(col("dists"), p + 1)).as("nd"),
            p.cast("int").as("p")))), 1, 4),
        s => element_at(cIds, s.getField("p") + 1))))
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("probe"))
  }

  /** Exact in-list rerank over an already-assigned corpus. */
  private def ivfSearchFrom(assigned: DataFrame, probes: DataFrame)
      : DataFrame = {
    val scored = broadcast(probes).as("a")
      .join(assigned.as("b"),
        col("a.probe") === col("b.cid") && col("a.qid") =!= col("b.vec_id"))
      .withColumn("cos", round(cosAB(col("a.q_emb"), col("b.embedding")), 6))
      .select(col("a.qid"), col("b.vec_id"), col("cos"))
    rankTopK(scored, "cos", desc = true)
      .select(col("qid"), col("rank"), col("vec_id"),
        col("cos").as("cos_sim"))
  }

  /** The 16-vector seeded codebook (vec_id < 16), collected once. */
  private def seededCodebook(emb: DataFrame): Codebook =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .sortBy(_.getAs[Long]("vec_id"))
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toSeq,
        r.getAs[Double]("nrm")))
      .toSeq

  /** IVF-FLAT ANN — the inverted-file scale path next to sign-LSH. The
    * coarse quantizer here is SEEDED (centroids = the 16 vectors with
    * vec_id < 16) so the whole structure is deterministic and
    * oracle-checkable; [[simIvfKmeansAnn]] trains it with k-means over
    * CentroidAggregator — quantizer quality moves RECALL, never
    * correctness of the in-list search.
    *
    * Scale shape: the codebook is collected once (16 rows — the same
    * driver hop a broadcast does) and burned into plan literals, so LIST
    * ASSIGNMENT IS MAP-SIDE (one HOF expression per row, argmax over 16
    * rounded cosines, zero shuffle — this is the step that touches all
    * N vectors). Queries probe their top-4 centroid lists; the probe
    * relation (queries × 4) broadcasts into an equi-join against the
    * assigned corpus, and only in-list candidates are scored exactly.
    * Cosines are rounded to 6 dp BEFORE every argmax/rank so the discrete
    * choices (list membership, probe set) cannot flip on engine ulp
    * differences.
    */
  def simIvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val (code, assigned, _) = ivfIndex(spark, dir)
    ivfSearchFrom(assigned, ivfProbes(assigned, code))
  }

  /** IVF with a k-means-TRAINED codebook: `iters` Lloyd rounds from the
    * seeded init. Each round is one k-row aggregate: [[assignSeeded]]
    * (the index's own map-side list assignment) feeds a `groupBy(cid)`
    * whose [[CentroidAggregator]] partial-aggregates one dim-sized
    * double buffer per (partition, list), and the k means come back to
    * the driver — the only driver traffic is the codebook itself, exactly
    * like production IVF training where the coarse quantizer is small by
    * construction. Means are rounded to 6 decimals (HALF_UP) so the
    * trained codebook (and therefore every downstream discrete choice) is
    * bit-reproducible across engines and partitionings; empty lists drop
    * out, matching the oracle's GROUP BY. Cosine k-means (argmax of
    * rounded cos) with plain coordinate means — the standard
    * spherical-ish simplification. The trained codebook then drives the
    * same probe and exact in-list rerank as [[simIvfAnn]].
    *
    * A round stays a small planned aggregate rather than a Scala
    * `treeAggregate`: the latter would need a second, hand-written
    * assignment kernel next to the index's Catalyst one.
    *
    * Scaling: each round collects k rows of dim doubles — the codebook,
    * not the corpus. At dim≈1536 that holds to k≈64k (~100 MB/round),
    * the realistic ceiling for an IVF coarse quantizer; beyond that the
    * codebook should be trained hierarchically instead, so `k` is capped
    * with a descriptive error.
    */
  val MaxIvfK: Int = 65536

  def simIvfKmeansAnn(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
    var code = seededCodebook(emb)
    val centroid =
      CentroidAggregator.centroid(code.headOption.fold(0)(_._2.length))
    for (_ <- 1 to iters) {
      require(code.length <= MaxIvfK,
        s"IVF codebook size ${code.length} exceeds $MaxIvfK: driver-side " +
          "per-round means no longer fit the coarse-quantizer budget; " +
          "train hierarchically (coarse book over sub-books) instead")
      code = assignSeeded(emb, code)
        .groupBy(col("cid"))
        .agg(transform(centroid(col("embedding")), m => round(m, 6)).as("m"))
        .collect()
        .map { r =>
          val vec = r.getSeq[Double](1).toVector
          (r.getLong(0), vec: Seq[Double],
            math.sqrt(vec.foldLeft(0.0)((a, x) => a + x * x)))
        }
        .sortBy(_._1).toSeq
    }
    val assigned = assignSeeded(emb, code)
    ivfSearchFrom(assigned, ivfProbes(assigned, code))
  }

  /** Tau for [[simSemanticPrune]] — aligned with Dedup's embedding-cosine
    * near-dup threshold so the two families agree on what "same meaning"
    * means on this corpus.
    */
  val SemanticPruneTau: Double = 0.45

  /** Per-cluster ANCHOR budget for [[simSemanticPrune]]: each vector is
    * compared against at most this many lowest-vec_id members of its
    * list, so the refinement is O(N · C) at ANY codebook size — the
    * within-cluster analogue of Dedup's hot-bucket anchor-star cap.
    * Production sizes k so clusters ≈ C and the anchor set IS the whole
    * cluster (exact SemDeDup); an oversized cluster degrades recall
    * against its tail, never cost.
    */
  val SemanticPruneAnchors: Int = 64

  /** SemDeDup-style SEMANTIC PRUNE (Abbas et al. 2023, arXiv:2303.09540):
    * mark embeddings whose meaning duplicates a kept item — the pairs
    * string-level dedup (shingles, minhash, simhash) can never see
    * because the texts differ while the vectors agree. The keep rule is
    * one deterministic pass: a vector is dropped iff some LOWER-vec_id
    * member of its candidate group has rounded cosine >= tau to it (no
    * iterative clustering, no order dependence).
    *
    * Scale shape — the paper's own linearity contract, hard-bounded: the
    * pairwise refinement runs INSIDE one IVF coarse list at a time (the
    * session-memoized seeded assignment, [[ivfIndex]] — ingest-time
    * cost, the bench's index_build row), an equi-join of the corpus
    * against each list's [[SemanticPruneAnchors]] lowest-id members,
    * never all-pairs and never all-cluster: O(N · C) cosines at ANY
    * codebook size (the unbounded within-cluster join measured 42× at
    * 10× data under the fixed 16-seed demo codebook — the exact
    * superlinear shape the anchor cap exists to kill). SemDeDup sizes k
    * so clusters stay ≈ C, where the anchor set is the whole cluster
    * and the result is exact; this module caps k at [[MaxIvfK]] and
    * points beyond it to hierarchical training.
    */
  def simSemanticPrune(spark: SparkSession, dir: String,
      tau: Double = SemanticPruneTau): DataFrame = {
    val (_, assigned, _) = ivfIndex(spark, dir)
    val m = assigned
      .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
    val anchors = m
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("vec_id").asc)))
      .filter(col("arank") <= SemanticPruneAnchors)
      .drop("arank")
    val dropped = anchors.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(cosAB(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("cos") >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max(col("cos")).as("dup_cos"))
    m.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_cos").isNull, 1).otherwise(0).as("keep"),
        col("dup_cos"))
  }

  /** Similarity join through the declarative `graft_lsh_match` operator:
    * the user writes one predicate; the LshJoinRewrite optimizer rule
    * (plans/LshJoin.scala) turns the nested-loop join it would imply into
    * a bucket-keyed hash join with a cosine refinement — same rows,
    * O(n²) → O(n) plan. SimJoinRuleSpec pins plan-shape + result equality.
    */
  def simLshJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark) // functions + rewrite rule
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    emb.as("a").join(emb.as("b"),
        expr("graft_lsh_match(a.embedding, b.embedding, 0.2D)") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(expr("graft_cosine(a.embedding, b.embedding)"), 6).as("cos_sim"))
  }

  /** Per-label centroid via the custom typed Aggregator, unpivoted to
    * (label, dim, val) rows for the oracle.
    */
  def simCentroid(spark: SparkSession, dir: String): DataFrame = {
    val centroid = CentroidAggregator.centroid(64)
    t(spark, dir, "embeddings")
      .groupBy(col("label"))
      .agg(centroid(col("embedding")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"), round(col("v"), 6).as("val"))
  }

  /** The eval panel is the FIXED stratum `vec_id % 20 == 0 AND
    * vec_id < KnnEvalPanelCap` — 1-in-20 of the first 2000 ids, i.e. at
    * most 100 queries at ANY corpus size. "Eval protocols pin their
    * query set" was already this operator's stated contract; the
    * pre-round-9 `vec_id % 20` alone silently grew the panel with the
    * corpus, which made the measured bench row scale as panel×corpus =
    * O(N²/20) — the sf1 run flagged it at 84.8× for 10× data. With the
    * cap the row is linear in corpus size (fixed panel × one corpus
    * pass), the protocol is honest, and the sf0.01/sf0.1 panels are
    * BIT-IDENTICAL to before (both have < 2000 vectors). Interpolated
    * into the oracle so both sides move together.
    */
  private[operators] val KnnEvalPanelCap = 2000

  /** The scored (qid, true_label, vec_id, nbr_label, cos) relation for
    * [[simKnnLabelEval]], produced by exact bounded IVF probing. Package
    * visible so KnnExactSpec can assert equality with brute force.
    */
  private[operators] def knnExactScored(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    // Assigned corpus + per-list radii come from the session-memoized
    // index ([[ivfIndex]]) — ingest-time cost, built once per (session,
    // corpus); this query's own work is the two panel-sized probe joins.
    val (sorted, assigned, radii) = ivfIndex(spark, dir)
    val cIds = typedLit(sorted.map(_._1))

    val qLists = assigned.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < KnnEvalPanelCap)
      .withColumn("ud", udistsOf(sorted)(col("embedding"), col("nrm")))
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        posexplode(col("ud")).as(Seq("p", "qccos")))
      .withColumn("lid", element_at(cIds, col("p") + 1))
      .withColumn("lrank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(round(col("qccos"), 6).desc, col("lid").asc)))
      .drop("p")

    def scoreProbes(probes: DataFrame): DataFrame =
      broadcast(probes.select(col("qid"), col("true_label"), col("q_emb"),
          col("q_nrm"), col("lid"))).as("a")
        .join(assigned.as("b"),
          col("a.lid") === col("b.cid") && col("a.qid") =!= col("b.vec_id"))
        .withColumn("cos", cosAB(col("a.q_emb"), col("b.embedding")))
        .select(col("a.qid"), col("a.true_label"), col("b.vec_id"),
          col("b.label").as("nbr_label"), col("cos"))

    // Pass 1: the query's 4 nearest lists; τ_q = k-th best (or sentinel
    // −2 when fewer than k candidates exist, forcing every list open).
    val s1 = scoreProbes(qLists.filter(col("lrank") <= 4))
    val tau = s1.filter(call_function("graft_topk", lit(k), col("cos"),
        lit("desc"), col("vec_id"), col("qid")))
      .groupBy(col("qid").as("t_qid"))
      .agg(count(lit(1)).as("cnt"), min(col("cos")).as("kth"))
      .select(col("t_qid"),
        when(col("cnt") < k, lit(-2.0)).otherwise(col("kth")).as("tau"))

    // Pass 2: remaining lists whose bound can still beat τ_q.
    val s2 = scoreProbes(qLists.filter(col("lrank") > 4)
      .join(radii, col("lid") === col("r_cid"))
      .join(tau, col("qid") === col("t_qid"), "left_outer")
      .withColumn("bound", cos(greatest(lit(0.0),
        acos(least(lit(1.0), greatest(lit(-1.0), col("qccos"))))
          - col("radius"))))
      .filter(col("bound") >= coalesce(col("tau"), lit(-2.0)) - lit(1e-9)))

    s1.unionByName(s2)
  }

  /** k-NN label evaluation — the standard embedding-quality probe a
    * training-data pipeline runs before trusting vectors for retrieval
    * or clustering: classify each query vector by MAJORITY VOTE of its
    * k nearest neighbors' labels and report per-label accuracy. A label
    * whose accuracy is near 1/|labels| has embeddings no better than
    * chance for that class.
    *
    * The query set is a fixed deterministic panel (`vec_id % 20 == 0 AND
    * vec_id < KnnEvalPanelCap` — ≤100 queries at any corpus size); eval
    * protocols pin their query set, and a panel that grew with the
    * corpus would re-quadratify the eval (see [[KnnEvalPanelCap]]). The
    * corpus side is the full table. Vote ties break to the smallest
    * label (deterministic in both engines); accuracy is one small-int
    * division rounded at emit.
    *
    * CANDIDATE GENERATION is the IVF index with EXACT BOUNDED PROBING —
    * never a query×corpus cross join. Two static passes over the
    * cid-assigned corpus (the same map-side assignment [[simIvfAnn]]
    * burns into plan literals):
    *
    *  1. score the query exactly against its 4 nearest lists (equi-join
    *     on cid) and take τ_q = the current k-th best cosine;
    *  2. probe ONLY the remaining lists whose best-achievable cosine
    *     beats τ_q. The bound is the triangle inequality on angles: for
    *     any member x of list i, angle(q,x) ≥ angle(q,c_i) − r_i where
    *     r_i = max member angle to c_i (one 16-row agg), so
    *     cos(q,x) ≤ cos(max(0, angle(q,c_i) − r_i)). A list whose bound
    *     is below τ_q provably cannot change the top-k.
    *
    * The result is EXACT — identical to brute force on ANY corpus, which
    * is why the DuckDB brute-force oracle stays valid (KnnExactSpec
    * asserts equality against an in-engine brute twin; bounds use
    * unrounded cosines with 1e-9 slack so ties are never pruned). On
    * clustered production corpora pass 2 touches few lists; on this
    * corpus (random unit vectors — worst case) it degenerates toward
    * scoring most lists, but always through cid equi-joins with the
    * TopKPerKey cap, never O(q×N) pairs in one stage. Cost: three linear
    * map-side scans (assign ×2, radii) + two hash joins.
    */
  def simKnnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    val scored = knnExactScored(spark, dir, AnnK)
    val votes = rankTopK(scored, "cos", desc = true)
      .groupBy(col("qid"), col("true_label"), col("nbr_label"))
      .agg(count(lit(1)).as("v"))
    val pred = votes.groupBy(col("qid"), col("true_label"))
      .agg(max(struct(col("v"), (-col("nbr_label")).as("neg"))).as("m"))
      .select(col("qid"), col("true_label"),
        (-col("m.neg")).as("pred_label"))
    pred.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("true_label").as("label"), col("n_queries"),
        col("n_correct"),
        round(col("n_correct").cast("double") / col("n_queries"), 6)
          .as("accuracy"))
      .orderBy(col("label").asc)
  }

  /** ANN QUALITY EVAL — recall@k of the LSH index against the exact
    * brute-force answer, per query. The metric every ANN deployment
    * monitors before trusting an index: recall = |approx top-k ∩ exact
    * top-k| / k. At evaluation scale the exact side runs over a SAMPLE of
    * queries (here: the same 10-query panel both operators already use),
    * so the brute-force cost is bounded while the index serves the full
    * corpus. One broadcast-sized join of two k×queries frames — the eval
    * is free next to either search.
    */
  def simRecallAtK(spark: SparkSession, dir: String): DataFrame = {
    val bf = simTopkBruteforce(spark, dir).select(col("qid"), col("vec_id"))
    val approx = simLshAnn(spark, dir)
      .select(col("qid").as("l_qid"), col("vec_id").as("l_vec"))
    bf.join(broadcast(approx),
        col("qid") === col("l_qid") && col("vec_id") === col("l_vec"),
        "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("l_vec").isNull, 0L).otherwise(1L)).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits").cast("double") / col("k"), 6).as("recall"))
  }

  /** Power-iteration rounds for the PC1 extraction — fixed so the oracle
    * replays the exact same schedule as chained CTEs.
    */
  private[operators] val PcaIters = 4

  /** Distributed PCA — top principal component of the (centered)
    * embedding corpus by POWER ITERATION: v ← normalize(Σ_rows (x̃·v)·x̃)
    * for [[PcaIters]] rounds from the all-ones start, x̃ = x − μ. The
    * spectral readout an embedding pipeline uses to detect anisotropy
    * (one direction hogging variance degrades cosine retrieval — the
    * "all-but-the-top" correction starts from exactly this vector), with
    * the eigenvalue estimate and its explained-variance share measured
    * alongside.
    *
    * Scale shape — the MapReduce power-method standard: the corpus is
    * read once into a persisted RDD of float arrays, and every pass over
    * it — the mean pass, the second-moment pass and each power round — is
    * ONE `treeAggregate` of a 65-slot `Long` array (slots 0..63 the
    * per-dimension micro-unit sums, slot 64 the row count, so no separate
    * count job), with the current iterate in the closure: no per-round
    * DataFrame, no per-round Catalyst, no shuffle of rows (the classifier
    * loop's pattern). The driver holds only the 64-value iterate between
    * rounds. Total: k+2 passes over the cached rows, driver state
    * O(dims).
    *
    * Cross-engine determinism: per-row dot products are ordered folds
    * (identical IEEE sequences both engines); every cross-ROW sum is
    * rounded to integer micro-units per row first (Spark's HALF_UP
    * `round`, [[PairGraph.roundHalfUp]]) and summed as exact longs, so
    * partition order cannot perturb any iterate; the driver
    * normalization walks dimensions in ascending order exactly like the
    * oracle's list folds.
    */
  def simPcaPower(spark: SparkSession, dir: String,
      iters: Int = PcaIters): DataFrame = {
    val dims = 64
    val vecs = t(spark, dir, "embeddings").select(col("embedding")).rdd
      .map(_.getSeq[Float](0).toArray)
      .persist()
    // one pass: slot d sums the row's term(d) in micro-units, slot 64
    // counts rows
    def pass(term: Array[Float] => Int => Double): Array[Long] =
      vecs.treeAggregate(new Array[Long](dims + 1))(
        (acc, x) => {
          val f = term(x)
          var d = 0
          while (d < dims) {
            acc(d) += PairGraph.roundHalfUp(f(d) * 1e6, 0).toLong
            d += 1
          }
          acc(dims) += 1
          acc
        },
        (a, b) => { for (i <- a.indices) a(i) += b(i); a })
    try {
      // pass 1: exact per-dim micro means
      val sumU = pass(x => d => x(d).toDouble)
      val n = sumU(dims)
      require(n > 0, "simPcaPower: empty corpus")
      val mu = Array.tabulate(dims)(d =>
        PairGraph.roundHalfUp(sumU(d).toDouble / n, 0).toLong / 1e6)
      // pass 2: exact per-dim micro second moments (for the trace)
      val s2U = pass(x => d => (x(d) - mu(d)) * (x(d) - mu(d)))
      val trace = s2U.take(dims).sum / 1e6 / n
      // power rounds: each is one pass + a 64-long driver fold
      var v = Array.fill(dims)(1.0)
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val vr = v
        val wU = pass { x =>
          val s = (0 until dims)
            .foldLeft(0.0)((acc, d) => acc + (x(d) - mu(d)) * vr(d))
          d => (x(d) - mu(d)) * s
        }
        // ascending-dim sequential fold — the oracle's list_sum order
        val u = wU.take(dims).map(_ / 1e6)
        var nrm2 = 0.0
        var d = 0
        while (d < dims) { nrm2 += u(d) * u(d); d += 1 }
        val nrm = math.sqrt(nrm2)
        v = u.map(_ / nrm)
        lambda = nrm / n
      }
      import spark.implicits._
      val rows = (0 until dims).map { d =>
        (d, mu(d), v(d), lambda, lambda / trace)
      }
      rows.toDF("dim", "mu_raw", "loading_raw", "lambda_raw", "share_raw")
        .select(col("dim"),
          round(col("mu_raw"), 6).as("mu"),
          round(col("loading_raw"), 6).as("loading"),
          round(col("lambda_raw"), 6).as("lambda"),
          round(col("share_raw"), 6).as("explained_share"))
    } finally vecs.unpersist()
  }

  /** Recall@5 of the COMPOSED IVF-PQ pipeline against the brute-force
    * ground truth — the compression-loss readout the billion-scale
    * layout needs before anyone trusts it ([[simRecallAtK]] measures the
    * sign-LSH path; this measures coarse-quantizer pruning AND the PQ
    * codes' asymmetric-distance approximation TOGETHER, which is what a
    * production query actually pays). EVAL-ONLY dependence on the
    * quadratic baseline, same quarantine contract as sim_recall_at_k.
    */
  def simIvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = simTopkBruteforce(spark, dir).select(col("qid"), col("vec_id"))
    val ap = simIvfPqAnn(spark, dir)
      .select(col("qid").as("a_qid"), col("vec_id").as("a_vec"))
    bf.join(broadcast(ap),
        col("qid") === col("a_qid") && col("vec_id") === col("a_vec"),
        "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("a_vec").isNull, 0L).otherwise(1L)).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits").cast("double") / col("k"), 6).as("recall"))
  }

  /** JL projection shape: 64-dim embeddings down to [[JlK]] components,
    * integer weight w(p,d) = ((p·89 + d·37 + 11) mod 19) − 9 — the
    * [[bucketExpr]] arithmetic-hyperplane convention (pure function,
    * reproducible in any engine, no stored model; zeros make it a
    * sparse-JL/Achlioptas-style matrix). [[JlW2Sum]] is Σ w² over the
    * whole matrix, the exact normalizer both engines interpolate.
    */
  private[operators] val JlK = 16
  private[operators] val JlW2Sum: Long = (for {
    p <- 0 until JlK; d <- 0 until 64
  } yield { val w = (p * 89 + d * 37 + 11) % 19 - 9; (w * w).toLong }).sum

  /** Johnson–Lindenstrauss projection AUDIT: project every embedding
    * 64 → [[JlK]] dims through the fixed arithmetic sign matrix and
    * MEASURE the realized norm distortion r = |Pv|²∕(E·|v|²) (E the
    * matrix's exact energy normalizer) — the number that says whether a
    * 4× cheaper index layer (LSH over projected vectors, coarse
    * quantizer training, dedup pre-filters) is safe for THIS corpus,
    * measured instead of assumed from the JL bound. One summary row:
    * realized mean/min/max ratio and the fraction inside ±10%.
    *
    * Scale shape: the projection is one map-side fold per vector (k
    * fixed dot products — same kernel class as the IVF assignment);
    * the audit aggregate reduces to a single row with exact-long micro
    * sums (the tsStl idiom; min/max are order-free), so nothing but
    * 3 numbers per partition shuffles. At 100 TB the same expression
    * WRITES the projected corpus; the audit is its free byproduct.
    */
  def simJlAudit(spark: SparkSession, dir: String): DataFrame = {
    val proj = expr(s"""transform(sequence(0, ${JlK - 1}, 1), p ->
      aggregate(transform(sequence(0, 63, 1),
        d -> CAST(embedding[d] AS DOUBLE)
             * CAST((p * 89 + d * 37 + 11) % 19 - 9 AS DOUBLE)),
        CAST(0 AS DOUBLE), (acc, v) -> acc + v))""")
    withNorm(t(spark, dir, "embeddings"))
      .filter(col("nrm") > 0)
      .withColumn("pv", proj)
      .withColumn("sp", expr("""aggregate(transform(pv, x -> x * x),
        CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""))
      .withColumn("ratio",
        col("sp") * 64.0 / (lit(JlW2Sum.toDouble) * col("nrm") * col("nrm")))
      .withColumn("ratio_u", round(col("ratio") * 1e6).cast("long"))
      .agg(count(lit(1)).as("n_vecs"),
        min(round(col("ratio"), 6)).as("min_ratio"),
        max(round(col("ratio"), 6)).as("max_ratio"),
        sum(col("ratio_u")).as("ru"),
        sum(when(col("ratio_u").between(900000L, 1100000L), 1L)
          .otherwise(0L)).as("n_within_10pct"))
      .select(col("n_vecs"), col("min_ratio"), col("max_ratio"),
        (round(col("ru").cast("double") / col("n_vecs")).cast("long")
          / 1e6).as("mean_ratio"), col("n_within_10pct"))
  }

  /** L2 normalization to unit vectors — the preprocessing step every
    * cosine-metric index (IVF, HNSW, LSH) wants done once upfront so
    * downstream distance math is a plain dot product. Long-format output
    * (vec_id, dim, norm, unit_val) keeps the oracle compare scalar-typed
    * (the [[simCentroid]] convention). Per-row fold + map-side posexplode,
    * zero shuffle — unchanged at any corpus size.
    */
  def simL2Normalize(spark: SparkSession, dir: String): DataFrame =
    withNorm(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("nrm"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("int").as("dim"),
        round(col("nrm"), 6).as("norm"),
        round(col("col").cast("double") / col("nrm"), 6).as("unit_val"))

  /** Per-vector scalar (int8-range) quantization: 255 levels over the
    * vector's own [min, max], `q_i = floor((x_i − mn)/scale + 0.5)` — the
    * storage-compression step an embedding store applies before indexing
    * (4× smaller than float32). Output is the per-vector summary the
    * oracle can replay exactly: range, two integer-exact code checksums
    * (sum and position-weighted sum — any wrong code moves one of them),
    * and the RMS reconstruction error. All per-row Column math, zero
    * shuffle. Degenerate constant vectors (mx == mn) would divide by zero;
    * real embedding corpora never contain them and this corpus doesn't.
    */
  def simQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .withColumn("mn", array_min(col("embedding")).cast("double"))
      .withColumn("mx", array_max(col("embedding")).cast("double"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .withColumn("q", expr(
        """transform(embedding,
           x -> CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5D) AS BIGINT))"""))
      .select(col("vec_id"),
        round(col("mn"), 6).as("mn"), round(col("mx"), 6).as("mx"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + v)").as("q_sum"),
        expr("""aggregate(zip_with(q, sequence(1, size(q)), (c, i) -> c * CAST(i AS BIGINT)),
             CAST(0 AS BIGINT), (a, v) -> a + v)""").as("q_wsum"),
        round(sqrt(expr(
          """aggregate(zip_with(embedding, q,
             (x, c) -> pow(CAST(x AS DOUBLE) - (mn + CAST(c AS DOUBLE) * scale), 2)),
             CAST(0 AS DOUBLE), (a, v) -> a + v)""") /
          size(col("embedding")).cast("double")), 6).as("dq_err"))

  /** PQ sub-centroid literals: cent(s)(c) = seed c's dims [s·8, s·8+8),
    * cut from the 16-vector seeded codebook ([[seededCodebook]]).
    */
  private def pqSubCentroids(code: Codebook): Column = {
    val seeds = code.sortBy(_._1).map(_._2)
    // ADVICE r7: a thin corpus (fewer than 16 seed vectors, or short
    // vectors) would make element_at past the centroid list yield NULLs
    // and the argmin codes silently null — fail loudly instead.
    require(seeds.length == 16,
      s"PQ codebook needs seed vectors vec_id 0..15; found ${seeds.length}")
    require(seeds.forall(_.length == 64),
      s"PQ codebook expects 64-dim embeddings; found dims " +
        seeds.map(_.length).distinct.mkString(","))
    typedLit((0 until 8).map(s => seeds.map(_.slice(s * 8, s * 8 + 8)).toSeq))
  }

  /** The PQ encode shared by both PQ queries: adds `dtab`, the row's 8×16
    * subspace-distance lookup table (rounded to 6 dp before every
    * downstream argmin/rank — discrete choices never flip on ulps), and
    * `codes`, its per-subspace argmin (ties to the lowest sub-centroid).
    */
  private def pqEncode(df: DataFrame, cent: Column): DataFrame =
    df.withColumn("dtab", transform(sequence(lit(0), lit(7)), s =>
        transform(sequence(lit(0), lit(15)), c =>
          round(aggregate(
            zip_with(slice(col("embedding"), s * 8 + 1, lit(8)),
              element_at(element_at(cent, s + 1), c + 1),
              (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
            lit(0.0), (a, v) => a + v), 6))))
      .withColumn("codes", transform(col("dtab"), ds =>
        (array_position(ds, array_min(ds)) - 1).cast("int")))

  /** The ADC scorer shared by both PQ queries: the broadcast query
    * tables `a` (qid, dtab) join the encoded candidates `b` (vec_id,
    * codes) on `on`; each pair's asymmetric distance is its code-indexed
    * table entries summed and rounded to 6 dp, and the top-k ascending
    * distances per query are kept.
    */
  private def pqAdcTopK(queries: DataFrame, encoded: DataFrame,
      on: Column): DataFrame = {
    val scored = broadcast(queries).as("a")
      .join(encoded.as("b"), on)
      .withColumn("approx_d2", round(aggregate(
        zip_with(col("b.codes"), col("a.dtab"),
          (c, tab) => element_at(tab, c + 1)),
        lit(0.0), (acc, v) => acc + v), 6))
    rankTopK(scored, "approx_d2", desc = false)
      .select(col("qid"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("approx_d2"))
  }

  /** Product-quantization ANN (PQ/ADC, the industrial workhorse behind
    * FAISS-style billion-vector indexes): vectors split into 8 subspaces
    * of 8 dims; each subspace encodes to its nearest of 16 seeded
    * sub-centroids (codes: 8 small ints — a 32× compression of the
    * 64-float vector); queries score candidates by ASYMMETRIC DISTANCE —
    * a per-query 8×16 lookup table of exact subspace distances, summed by
    * code index, never touching the original corpus floats.
    *
    * Scale shape: the sub-centroids are plan literals cut from the same
    * seeded codebook as [[simIvfAnn]] ([[simIvfKmeansAnn]] shows how
    * training would refine it); [[pqEncode]] is map-side; [[pqAdcTopK]]
    * scans only (vec_id, codes) rows with the tiny query tables
    * broadcast — the linear ADC scan over compressed codes IS the PQ
    * search, and composing with the IVF list assignment gives IVF-PQ
    * ([[simIvfPqAnn]]), the standard billion-scale layout.
    */
  def simPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val encoded = pqEncode(emb, pqSubCentroids(seededCodebook(withNorm(emb))))
    pqAdcTopK(
      encoded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("dtab")),
      encoded.select(col("vec_id"), col("codes")),
      col("a.qid") =!= col("b.vec_id"))
  }

  /** IVF-PQ — the standard billion-scale ANN layout, composed from the
    * two stages above: the seeded coarse quantizer ([[simIvfAnn]]) prunes
    * the corpus to 4 probed lists per query, then PQ codes score ONLY
    * those candidates by asymmetric distance ([[simPqAnn]]'s encode and
    * ADC scorer). At scale the scored volume drops from |corpus| to
    * |corpus|·(probed/k) AND each candidate costs an 8-int lookup instead
    * of a 64-float dot — the two compressions multiply. Probe relation
    * broadcasts; candidates come from an equi-join on the list id; corpus
    * floats never shuffle.
    */
  def simIvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    // The coarse stage reads the session-memoized assigned corpus; the PQ
    // codebook derives from the same cached seeds (codebook == the 16
    // seed vectors), so the only full-corpus work left is the map-side
    // encode over cached blocks.
    val (code, assigned, _) = ivfIndex(spark, dir)
    val cent = pqSubCentroids(code)
    val qtab = pqEncode(assigned.filter(col("vec_id") < 10), cent)
      .select(col("vec_id").as("qid"), col("dtab"))
    pqAdcTopK(
      ivfProbes(assigned, code).select(col("qid"), col("probe"))
        .join(qtab, "qid"),
      pqEncode(assigned, cent).select(col("vec_id"), col("cid"), col("codes")),
      col("a.probe") === col("b.cid") && col("a.qid") =!= col("b.vec_id"))
  }

  /** Negatives drawn per anchor by [[simNegatives]], interpolated into
    * the oracle. */
  private[operators] val NegativesPerAnchor = 4

  /** Contrastive negative sampling: for each anchor vector, k pseudo-random
    * candidate ids drawn by a deterministic affine hash over the id space
    * (`((vec_id mod 2^31−1)·2654435761 + slot·40503 + 17) mod N` — the
    * pre-reduction keeps the product ≤ ~5.7e18 < Long.Max for ANY vec_id,
    * so the draw is wrap-free and identical on every engine: no silent
    * Spark wraparound vs DuckDB overflow error at large id spaces
    * (ADVICE r12). Content-addressed, so the same anchor draws the same
    * negatives on any engine or rerun,
    * no stored sample table), joined back to the corpus and kept when the
    * candidate carries a DIFFERENT label (the reproducible random-negative
    * miner a contrastive/embedding training pipeline pairs with in-batch
    * negatives). Each pair's cosine is emitted, so hard-negative mining is
    * one ORDER BY away.
    *
    * Scale shape: the candidate fan-out is a map-side explode (k rows per
    * anchor, no shuffle), the back-join is a plain equi-join on the
    * candidate id (hash join; AQE may broadcast), and the corpus size
    * enters the hash as a broadcast 1-row aggregate — never a driver-side
    * count.
    */
  def simNegatives(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val emb = t(spark, dir, "embeddings")
    val nTotal = emb.agg(count(lit(1)).as("n_total"))
    val cand = emb.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(nTotal))
      .withColumn("slot",
        explode(sequence(lit(0), lit(NegativesPerAnchor - 1))))
      .withColumn("cand_id",
        pmod(pmod(col("vec_id"), lit(2147483647L)) * lit(2654435761L)
          + col("slot") * lit(40503L) + lit(17L), col("n_total")))
    cand.as("a")
      .join(emb.select(col("vec_id").as("cand_id"),
        col("label").as("neg_label"),
        col("embedding").as("neg_emb")).as("b"), "cand_id")
      .filter(col("neg_label") =!= col("label")
        && col("cand_id") =!= col("vec_id"))
      .select(col("vec_id").as("anchor_id"), col("slot"),
        col("cand_id").as("neg_id"), col("neg_label"),
        round(cosAB(col("embedding"), col("neg_emb")), 6).as("cos_sim"))
  }

  /** HARD-negative mining — the companion to [[simNegatives]]'s random
    * draw: for each anchor in a deterministic query sample, the top-5
    * highest-cosine DIFFERENT-label vectors among its LSH bucket mates.
    * Same sign-bucket ⇒ semantically close ⇒ exactly the confusable
    * negatives a contrastive trainer upweights (the DPR/SimCSE mining
    * step). Candidates come from the bucket equi-join (never all-pairs),
    * the label filter rides the join condition so same-label pairs are
    * never scored, and the native TopKPerKey cap bounds what reaches the
    * rank window.
    */
  def simNegativesHard(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(spark, dir, "embeddings"))
      .withColumn("bucket", bucketCol)
    val q = emb.filter(col("vec_id") < 50)
    val scored = q.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .withColumn("cos", cosAB(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"),
        col("b.label").as("neg_label"), col("cos"))
    rankTopK(scored, "cos", desc = true)
      .select(col("qid"), col("rank"), col("vec_id").as("neg_id"),
        col("neg_label"), round(col("cos"), 6).as("cos_sim"))
  }

  /** How many outliers [[simOutliers]] reports. */
  private[operators] val OutlierTopK = 30

  /** Embedding OUTLIER detection — the pre-training audit that catches
    * corrupted/mis-encoded vectors before they poison a contrastive or
    * retrieval run: each vector's cosine to its assigned IVF centroid is
    * z-scored WITHIN its list (a far-from-everything vector in a tight
    * list is anomalous; the same distance in a diffuse list is not), and
    * the corpus-wide top-k by z is the triage list. Reuses the
    * session-memoized ingest-time IVF index ([[ivfIndex]]) — no extra
    * corpus pass to build state.
    *
    * Engine-exactness: the member cosine is quantized to integer
    * micro-units once, per-list moments are exact long sums (n, Σc, Σc²)
    * of those integers, and the z itself is a fixed IEEE chain
    * (mean, variance, one sqrt, one divide) on exact-integer-valued
    * doubles, rounded at emit with vec_id tiebreak — ranks cannot flip
    * on summation order. Scale: moments are a |codebook|-row broadcast;
    * scoring is map-side; top-k plans as TakeOrderedAndProject.
    */
  def simOutliers(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned, _) = ivfIndex(spark, dir)
    val cc = assigned.select(col("vec_id"), col("cid"),
      round(col("ccos") * 1e6).cast("long").as("cc_u"))
    val stats = cc.groupBy(col("cid")).agg(count(lit(1)).as("n"),
      sum(col("cc_u")).as("s1"), sum(col("cc_u") * col("cc_u")).as("s2"))
    val scored = cc.join(broadcast(stats), "cid")
      .filter(col("n") >= 2)
      .withColumn("mean_u", col("s1").cast("double") / col("n"))
      .withColumn("varr", (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n")) /
        col("n"))
      .filter(col("varr") > 0)
      .withColumn("z", round(
        (col("mean_u") - col("cc_u").cast("double")) / sqrt(col("varr")),
        6))
    // rank stamp over the post-limit ≤k-row frame, WindowExec-free
    // (Bounded.rankBounded — the family convention since r14). The
    // negated key is total and non-null by construction: the varr > 0
    // filter above makes z a finite round() of exact-integer-valued
    // doubles, so no NULL/NaN can reach the negation (rankBounded's
    // nullable-key contract, ADVICE r14)
    Bounded.rankBounded(
      scored
        .select(col("vec_id"), col("cid"),
          round(col("cc_u") / 1e6, 6).as("cos_centroid"), col("z"))
        .orderBy(col("z").desc, col("vec_id").asc)
        .limit(OutlierTopK),
      Seq(-col("z"), col("vec_id")), "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_outliers" -> (simOutliers _),
    "sim_negatives" -> (simNegatives _),
    "sim_negatives_hard" ->
      (simNegativesHard _),
    "sim_topk_bruteforce" -> (simTopkBruteforce _),
    "sim_knn_label_eval" -> (simKnnLabelEval _),
    "sim_lsh_ann" -> (simLshAnn _),
    "sim_lsh_multiprobe" -> (simLshMultiprobe _),
    "sim_range_search" -> (simRangeSearch _),
    "sim_ivf_ann" -> (simIvfAnn _),
    "sim_ivf_kmeans" -> ((s, d) => simIvfKmeansAnn(s, d)),
    "sim_lsh_join" -> (simLshJoin _),
    "sim_centroid" -> (simCentroid _),
    "sim_recall_at_k" -> (simRecallAtK _),
    "sim_ivfpq_recall" -> (simIvfPqRecall _),
    "sim_pca_power" -> ((s, d) => simPcaPower(s, d)),
    "sim_l2_normalize" -> (simL2Normalize _),
    "sim_jl_audit" -> (simJlAudit _),
    "sim_quantize_int8" -> (simQuantizeInt8 _),
    "sim_pq_ann" -> (simPqAnn _),
    "sim_ivfpq_ann" -> (simIvfPqAnn _),
    "sim_semantic_prune" -> ((s, d) => simSemanticPrune(s, d)),
    "sim_ivf_incremental" -> (simIvfIncremental _),
  )

  /** One Lloyd round as DuckDB CTEs: assign against `prev` (cid, ce, cn),
    * then per-dim rounded means become c`i` — mirrors simIvfKmeansAnn.
    */
  private def lloydCte(prev: String, i: Int): String = s"""
      ad$i AS (SELECT v.vec_id, c.cid,
               round(list_sum(list_transform(generate_series(1, 64),
                 j -> v.emb[j] * c.ce[j])) / (v.nrm * c.cn), 6) AS d
             FROM e v CROSS JOIN $prev c),
      a$i AS (SELECT vec_id, cid FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d DESC, cid ASC) AS rn FROM ad$i)
               WHERE rn = 1),
      m$i AS (SELECT a$i.cid, j, round(avg(e.emb[j]), 6) AS m
             FROM a$i JOIN e ON a$i.vec_id = e.vec_id,
                  UNNEST(generate_series(1, 64)) AS g(j)
             GROUP BY 1, 2),
      c$i AS (SELECT cid, list(m ORDER BY j) AS ce,
                sqrt(list_sum(list_transform(list(m ORDER BY j),
                  x -> x * x))) AS cn
             FROM m$i GROUP BY cid)"""

  private val normCte = """
    n AS (SELECT vec_id, embedding,
            sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS nrm
          FROM embeddings)"""

  private val cosAB = """
    list_sum(list_transform(generate_series(1, len(a.embedding)),
      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm)"""

  val oracle: Map[String, String] = Map(
    "sim_outliers" -> s"""
      WITH $normCte,
      c AS (SELECT vec_id AS cid, embedding, nrm FROM n WHERE vec_id < 16),
      ad AS (SELECT v.vec_id, c.cid,
               list_sum(list_transform(generate_series(1,
                 len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm) AS du,
               round(list_sum(list_transform(generate_series(1,
                 len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm), 6) AS d
             FROM n v CROSS JOIN c),
      assign AS (SELECT vec_id, cid,
                   CAST(round(du * 1e6) AS BIGINT) AS cc_u
                 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
      st AS (SELECT cid, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cc_u) AS BIGINT) AS s1,
               CAST(sum(cc_u * cc_u) AS BIGINT) AS s2
             FROM assign GROUP BY 1),
      sc AS (SELECT a.vec_id, a.cid, a.cc_u,
               s1::DOUBLE / n AS mean_u,
               (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / n AS varr
             FROM assign a JOIN st USING (cid) WHERE n >= 2),
      top AS (SELECT vec_id, cid,
                round(cc_u / 1e6, 6) AS cos_centroid,
                round((mean_u - cc_u::DOUBLE) / sqrt(varr), 6) AS z
              FROM sc WHERE varr > 0
              ORDER BY z DESC, vec_id ASC LIMIT $OutlierTopK)
      SELECT vec_id, cid, cos_centroid, z,
        CAST(row_number() OVER (ORDER BY z DESC, vec_id ASC) AS INT)
          AS rank
      FROM top""",
    "sim_negatives" -> s"""
      WITH $normCte,
      nn AS (SELECT count(*) AS n_total FROM embeddings),
      lab AS (SELECT n.vec_id, e.label, n.embedding, n.nrm
              FROM n JOIN embeddings e ON n.vec_id = e.vec_id),
      cand AS (SELECT a.vec_id, a.label, a.embedding, a.nrm, g.slot,
                 ((a.vec_id % 2147483647) * 2654435761
                   + g.slot * 40503 + 17) % t.n_total AS cand_id
               FROM lab a CROSS JOIN nn t,
                    UNNEST(generate_series(0, ${NegativesPerAnchor - 1})) AS g(slot))
      SELECT a.vec_id AS anchor_id, CAST(a.slot AS INT) AS slot,
        b.vec_id AS neg_id, b.label AS neg_label,
        round($cosAB, 6) AS cos_sim
      FROM cand a JOIN lab b ON a.cand_id = b.vec_id
      WHERE b.label <> a.label AND b.vec_id <> a.vec_id""",
    "sim_topk_bruteforce" -> s"""
      WITH $normCte,
      scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                 FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cos_sim
      FROM (SELECT qid, vec_id, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_knn_label_eval" -> s"""
      WITH $normCte,
      nl AS (SELECT n.vec_id, e.label, n.embedding, n.nrm
             FROM n JOIN embeddings e ON n.vec_id = e.vec_id),
      scored AS (SELECT a.vec_id AS qid, a.label AS true_label,
                   b.vec_id AS vec_id, b.label AS nbr_label, $cosAB AS cos
                 FROM nl a JOIN nl b
                   ON a.vec_id % 20 = 0 AND a.vec_id < $KnnEvalPanelCap
                   AND a.vec_id <> b.vec_id),
      top AS (SELECT * FROM
                (SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, vec_id ASC) AS rn FROM scored)
              WHERE rn <= $AnnK),
      votes AS (SELECT qid, true_label, nbr_label, count(*) AS v
                FROM top GROUP BY 1, 2, 3),
      pred AS (SELECT qid, true_label, nbr_label AS pred_label FROM
                 (SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY v DESC, nbr_label ASC) AS rn FROM votes)
               WHERE rn = 1)
      SELECT true_label AS label, count(*) AS n_queries,
        CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct,
        round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS accuracy
      FROM pred GROUP BY 1 ORDER BY 1""",
    "sim_negatives_hard" -> s"""
      WITH $normCte,
      bk AS (SELECT vec_id, embedding, nrm,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket
             FROM n),
      bkl AS (SELECT bk.vec_id, bk.embedding, bk.nrm, bk.bucket, e.label
              FROM bk JOIN embeddings e ON bk.vec_id = e.vec_id),
      scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
                   b.label AS neg_label, $cosAB AS cos
                 FROM bkl a JOIN bkl b ON a.bucket = b.bucket
                   AND a.vec_id < 50 AND a.vec_id <> b.vec_id
                   AND a.label <> b.label)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id AS neg_id, neg_label,
        round(cos, 6) AS cos_sim
      FROM (SELECT qid, vec_id, neg_label, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_lsh_ann" -> s"""
      WITH $normCte,
      bk AS (SELECT vec_id, embedding, nrm,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket
             FROM n),
      scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                 FROM bk a JOIN bk b ON a.bucket = b.bucket
                   AND a.vec_id < 10 AND a.vec_id <> b.vec_id)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cos_sim
      FROM (SELECT qid, vec_id, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_range_search" -> s"""
      WITH $normCte,
      bk AS (SELECT vec_id, embedding, nrm,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket
             FROM n),
      probes AS (SELECT vec_id, embedding, nrm, unnest(
                   [bucket] || list_transform(generate_series(0, 3), i ->
                     substr(bucket, 1, i)
                     || (CASE WHEN substr(bucket, i + 1, 1) = '1'
                         THEN '0' ELSE '1' END)
                     || substr(bucket, i + 2, 4))) AS probe
                 FROM bk WHERE vec_id < 10)
      SELECT a.vec_id AS qid, b.vec_id AS vec_id,
             round($cosAB, 6) AS cos_sim
      FROM probes a JOIN bk b ON a.probe = b.bucket
        AND a.vec_id <> b.vec_id
      WHERE round($cosAB, 6) >= $RangeTau""",
    "sim_lsh_multiprobe" -> s"""
      WITH $normCte,
      bk AS (SELECT vec_id, embedding, nrm,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket
             FROM n),
      probes AS (SELECT vec_id, embedding, nrm, unnest(
                   [bucket] || list_transform(generate_series(0, 3), i ->
                     substr(bucket, 1, i)
                     || (CASE WHEN substr(bucket, i + 1, 1) = '1'
                         THEN '0' ELSE '1' END)
                     || substr(bucket, i + 2, 4))) AS probe
                 FROM bk WHERE vec_id < 10),
      scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                 FROM probes a JOIN bk b ON a.probe = b.bucket
                   AND a.vec_id <> b.vec_id)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cos_sim
      FROM (SELECT qid, vec_id, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_ivf_incremental" -> s"""
      WITH $normCte,
      c AS (SELECT vec_id AS cid, embedding, nrm FROM n WHERE vec_id < 16),
      ad AS (SELECT v.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm) AS du,
               round(list_sum(list_transform(generate_series(1,
                 len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm), 6) AS d
             FROM n v CROSS JOIN c),
      assign AS (SELECT vec_id, cid, du FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1)
      SELECT cid,
        CAST(sum(CASE WHEN vec_id % 8 = 7 AND vec_id >= 16
          THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
        CAST(sum(CASE WHEN vec_id % 8 = 7 AND vec_id >= 16
          THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        CAST(count(*) AS BIGINT) AS n_total,
        round(acos(least(1.0, greatest(-1.0, min(du)))), 6) AS radius
      FROM assign GROUP BY cid ORDER BY cid""",
    "sim_ivf_ann" -> s"""
      WITH $normCte,
      c AS (SELECT vec_id AS cid, embedding, nrm FROM n WHERE vec_id < 16),
      ad AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
               round(list_sum(list_transform(generate_series(1, len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm), 6) AS d
             FROM n v CROSS JOIN c),
      assign AS (SELECT vec_id, embedding, nrm, cid FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, embedding AS q_emb, nrm AS q_nrm,
                        cid AS probe FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn
                    FROM ad WHERE vec_id < 10)
                 WHERE rn <= 4),
      scored AS (SELECT a.qid, b.vec_id,
                   round(list_sum(list_transform(generate_series(1, len(a.q_emb)),
                     i -> a.q_emb[i]::DOUBLE * b.embedding[i]::DOUBLE))
                     / (a.q_nrm * b.nrm), 6) AS cos
                 FROM probes a JOIN assign b
                   ON a.probe = b.cid AND a.qid <> b.vec_id)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos AS cos_sim
      FROM (SELECT qid, vec_id, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_ivf_kmeans" -> s"""
      WITH $normCte,
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
                   nrm FROM n),
      c0 AS (SELECT vec_id AS cid, emb AS ce, nrm AS cn FROM e
             WHERE vec_id < 16),
      ${lloydCte("c0", 1)},
      ${lloydCte("c1", 2)},
      adf AS (SELECT v.vec_id, v.emb, v.nrm, c.cid,
               round(list_sum(list_transform(generate_series(1, 64),
                 j -> v.emb[j] * c.ce[j])) / (v.nrm * c.cn), 6) AS d
             FROM e v CROSS JOIN c2 c),
      assign AS (SELECT vec_id, emb, nrm, cid FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn FROM adf)
                 WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, emb AS q_emb, nrm AS q_nrm,
                        cid AS probe FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn
                    FROM adf WHERE vec_id < 10)
                 WHERE rn <= 4),
      scored AS (SELECT a.qid, b.vec_id,
                   round(list_sum(list_transform(generate_series(1, 64),
                     j -> a.q_emb[j] * b.emb[j])) / (a.q_nrm * b.nrm), 6)
                     AS cos
                 FROM probes a JOIN assign b
                   ON a.probe = b.cid AND a.qid <> b.vec_id)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos AS cos_sim
      FROM (SELECT qid, vec_id, cos, row_number() OVER
              (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= $AnnK""",
    "sim_lsh_join" -> """
      WITH bk AS (SELECT vec_id, embedding,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket,
               sqrt(list_sum(list_transform(embedding,
                 x -> x::DOUBLE * x::DOUBLE))) AS nrm
             FROM embeddings)
      SELECT a.vec_id AS va, b.vec_id AS vb,
        round(list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (a.nrm * b.nrm), 6) AS cos_sim
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (a.nrm * b.nrm) >= 0.2""",
    "sim_semantic_prune" -> s"""
      WITH $normCte,
      c AS (SELECT vec_id AS cid, embedding, nrm FROM n WHERE vec_id < 16),
      ad AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
               round(list_sum(list_transform(generate_series(1, len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm), 6) AS d
             FROM n v CROSS JOIN c),
      assign AS (SELECT vec_id, embedding, nrm, cid FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
      anch AS (SELECT vec_id, cid, embedding, nrm FROM
                 (SELECT *, row_number() OVER (PARTITION BY cid
                    ORDER BY vec_id ASC) AS arank FROM assign)
               WHERE arank <= $SemanticPruneAnchors),
      pairs AS (SELECT b.vec_id AS vec_id, round($cosAB, 6) AS cos
                FROM anch a JOIN assign b ON a.cid = b.cid
                  AND a.vec_id < b.vec_id),
      drp AS (SELECT vec_id, max(cos) AS dup_cos FROM pairs
              WHERE cos >= $SemanticPruneTau GROUP BY 1)
      SELECT assign.vec_id, assign.cid,
        CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep, d.dup_cos
      FROM assign LEFT JOIN drp d ON assign.vec_id = d.vec_id""",
    "sim_centroid" -> """
      SELECT label, CAST(i AS INT) AS dim,
             round(avg(embedding[i + 1]::DOUBLE), 6) AS val
      FROM embeddings, UNNEST(generate_series(0, 63)) AS g(i)
      GROUP BY 1, 2""",
    "sim_recall_at_k" -> s"""
      WITH $normCte,
      bk AS (SELECT vec_id, embedding, nrm,
               array_to_string(list_transform(generate_series(0, 3), p ->
                 CASE WHEN list_sum(list_transform(generate_series(0, 63),
                     d -> embedding[d + 1]::DOUBLE
                          * ((p * 97 + d * 31 + 13) % 17 - 8)::DOUBLE)) > 0
                 THEN '1' ELSE '0' END), '') AS bucket
             FROM n),
      bf_scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                    FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      bf AS (SELECT qid, vec_id FROM
               (SELECT qid, vec_id, row_number() OVER
                  (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
                FROM bf_scored)
             WHERE rank <= $AnnK),
      l_scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                   FROM bk a JOIN bk b ON a.bucket = b.bucket
                     AND a.vec_id < 10 AND a.vec_id <> b.vec_id),
      lsh AS (SELECT qid, vec_id FROM
                (SELECT qid, vec_id, row_number() OVER
                   (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
                 FROM l_scored)
              WHERE rank <= $AnnK)
      SELECT bf.qid, CAST(count(l.vec_id) AS BIGINT) AS n_hits,
        round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 6) AS recall
      FROM bf LEFT JOIN lsh l
        ON bf.qid = l.qid AND bf.vec_id = l.vec_id
      GROUP BY 1""",
    "sim_jl_audit" -> s"""
      WITH b AS (SELECT vec_id, embedding,
          sqrt(list_sum(list_transform(embedding,
            x -> x::DOUBLE * x::DOUBLE))) AS nrm
        FROM embeddings),
      p AS (SELECT vec_id, nrm,
          list_transform(generate_series(0, ${JlK - 1}), p ->
            list_sum(list_transform(generate_series(0, 63),
              d -> embedding[d + 1]::DOUBLE
                   * CAST((p * 89 + d * 37 + 11) % 19 - 9 AS DOUBLE))))
            AS pv
        FROM b WHERE nrm > 0),
      r AS (SELECT vec_id,
          list_sum(list_transform(pv, x -> x * x)) * 64.0
            / ($JlW2Sum * nrm * nrm) AS ratio
        FROM p),
      u AS (SELECT ratio, CAST(round(ratio * 1e6) AS BIGINT) AS ratio_u
            FROM r)
      SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        min(round(ratio, 6)) AS min_ratio,
        max(round(ratio, 6)) AS max_ratio,
        CAST(round(CAST(sum(ratio_u) AS BIGINT)
          / CAST(count(*) AS DOUBLE)) AS BIGINT) / 1e6 AS mean_ratio,
        CAST(sum(CASE WHEN ratio_u BETWEEN 900000 AND 1100000
          THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct
      FROM u""",
    "sim_l2_normalize" -> s"""
      WITH $normCte
      SELECT vec_id, CAST(i AS INT) AS dim, round(nrm, 6) AS norm,
        round(embedding[i + 1]::DOUBLE / nrm, 6) AS unit_val
      FROM n, UNNEST(generate_series(0, 63)) AS g(i)""",
    "sim_quantize_int8" -> """
      WITH p AS (
        SELECT vec_id, embedding,
          list_aggregate(embedding, 'min')::DOUBLE AS mn,
          list_aggregate(embedding, 'max')::DOUBLE AS mx,
          (list_aggregate(embedding, 'max')::DOUBLE
            - list_aggregate(embedding, 'min')::DOUBLE) / 255.0 AS scale
        FROM embeddings),
      qq AS (
        SELECT vec_id, embedding, mn, mx, scale,
          list_transform(embedding,
            x -> CAST(floor((x::DOUBLE - mn) / scale + 0.5) AS BIGINT)) AS q
        FROM p)
      SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
        CAST(list_sum(q) AS BIGINT) AS q_sum,
        CAST(list_sum(list_transform(generate_series(1, len(q)),
          i -> q[i] * i)) AS BIGINT) AS q_wsum,
        round(sqrt(list_sum(list_transform(generate_series(1, len(q)),
          i -> pow(embedding[i]::DOUBLE - (mn + q[i]::DOUBLE * scale), 2)))
          / len(embedding)), 6) AS dq_err
      FROM qq""",
    "sim_pq_ann" -> s"""
      WITH sd AS (SELECT vec_id AS cid, embedding FROM embeddings
                  WHERE vec_id < 16),
      sub AS (SELECT v.vec_id, s.s, sd.cid,
                round(list_sum(list_transform(generate_series(1, 8),
                  j -> (v.embedding[s.s*8+j]::DOUBLE
                          - sd.embedding[s.s*8+j]::DOUBLE)
                     * (v.embedding[s.s*8+j]::DOUBLE
                          - sd.embedding[s.s*8+j]::DOUBLE))), 6) AS d2
              FROM embeddings v
              CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) s
              CROSS JOIN sd),
      codes AS (SELECT vec_id, s, cid FROM
                  (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                     ORDER BY d2 ASC, cid ASC) AS rn FROM sub)
                WHERE rn = 1),
      approx AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
                   round(sum(q.d2), 6) AS approx_d2
                 FROM sub q JOIN codes c ON q.s = c.s AND q.cid = c.cid
                 WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
                 GROUP BY 1, 2)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, approx_d2 FROM
        (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY approx_d2 ASC, vec_id ASC) AS rank FROM approx)
      WHERE rank <= $AnnK""",
    "sim_ivfpq_ann" -> s"""
      WITH $normCte,
      $ivfpqCtes
      SELECT qid, CAST(rank AS INT) AS rank, vec_id, approx_d2 FROM
        (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY approx_d2 ASC, vec_id ASC) AS rank FROM approx)
      WHERE rank <= $AnnK""",
    // the power schedule replays as chained CTEs (the graph_label_prop
    // convention): per-row dot products are ordered list folds, every
    // cross-row sum is per-row micro-rounded then summed as exact longs,
    // and the normalization walks dims ascending — the engine's exact
    // arithmetic, round for round
    "sim_pca_power" -> {
      val rounds = (1 to PcaIters).map { r =>
        s"""
      s$r AS (SELECT e.vec_id,
                list_sum(list_transform(generate_series(1, 64),
                  i -> (e.embedding[i]::DOUBLE - m.m[i]) * pv.v[i])) AS s
              FROM embeddings e, mul m, v${r - 1} pv),
      w$r AS (SELECT x.d,
                CAST(sum(CAST(round((x.x - mm.mu_u / 1e6) * sr.s * 1e6)
                  AS BIGINT)) AS BIGINT) AS wu
              FROM xd x
              JOIN s$r sr ON x.vec_id = sr.vec_id
              JOIN muu mm ON x.d = mm.d
              GROUP BY x.d),
      nr$r AS (SELECT u, sqrt(list_sum(list_transform(u, y -> y * y)))
                 AS nrm
               FROM (SELECT list(wu / 1e6 ORDER BY d) AS u FROM w$r)),
      v$r AS (SELECT list_transform(u, y -> y / nrm) AS v FROM nr$r)"""
      }.mkString(",")
      s"""
      WITH cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
      xd AS (SELECT vec_id, d, embedding[d]::DOUBLE AS x
             FROM embeddings, UNNEST(generate_series(1, 64)) AS g(d)),
      sums AS (SELECT d, CAST(sum(CAST(round(x * 1e6) AS BIGINT))
                 AS BIGINT) AS su
               FROM xd GROUP BY d),
      muu AS (SELECT d, CAST(round(su / cnt.n) AS BIGINT) AS mu_u
              FROM sums, cnt),
      mul AS (SELECT list(mu_u / 1e6 ORDER BY d) AS m FROM muu),
      tr AS (SELECT CAST(sum(CAST(round((x.x - mm.mu_u / 1e6)
               * (x.x - mm.mu_u / 1e6) * 1e6) AS BIGINT)) AS BIGINT) AS tm
             FROM xd x JOIN muu mm ON x.d = mm.d),
      v0 AS (SELECT list_transform(generate_series(1, 64), i -> 1.0) AS v),
      $rounds
      SELECT CAST(mm.d - 1 AS INT) AS dim,
        round(mm.mu_u / 1e6, 6) AS mu,
        round(vf.v[mm.d], 6) AS loading,
        round(nf.nrm / cnt.n, 6) AS lambda,
        round((nf.nrm / cnt.n) / (tr.tm / 1e6 / cnt.n), 6)
          AS explained_share
      FROM muu mm, v$PcaIters vf, nr$PcaIters nf, tr, cnt"""
    },
    "sim_ivfpq_recall" -> s"""
      WITH $normCte,
      $ivfpqCtes,
      ap AS (SELECT qid, vec_id FROM
               (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY approx_d2 ASC, vec_id ASC) AS rank FROM approx)
             WHERE rank <= $AnnK),
      bf_scored AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, $cosAB AS cos
                    FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      bf AS (SELECT qid, vec_id FROM
               (SELECT qid, vec_id, row_number() OVER
                  (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
                FROM bf_scored)
             WHERE rank <= $AnnK)
      SELECT bf.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
        round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 6) AS recall
      FROM bf LEFT JOIN ap a
        ON bf.qid = a.qid AND bf.vec_id = a.vec_id
      GROUP BY 1""",
  )

  /** The full IVF-PQ pipeline as DuckDB CTEs (seeded coarse codebook,
    * top-4 probes, 8×8 PQ codes, ADC scoring) ending in
    * `approx(qid, vec_id, approx_d2)` — shared by the ANN oracle and the
    * recall readout so the two replays cannot drift.
    */
  private lazy val ivfpqCtes: String = """
      c AS (SELECT vec_id AS cid, embedding, nrm FROM n WHERE vec_id < 16),
      ad AS (SELECT v.vec_id, c.cid,
               round(list_sum(list_transform(generate_series(1, len(v.embedding)),
                 i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
                 / (v.nrm * c.nrm), 6) AS d
             FROM n v CROSS JOIN c),
      assign AS (SELECT vec_id, cid FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS probe FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, cid ASC) AS rn
                    FROM ad WHERE vec_id < 10)
                 WHERE rn <= 4),
      sd AS (SELECT vec_id AS scid, embedding FROM embeddings
             WHERE vec_id < 16),
      sub AS (SELECT v.vec_id, s.s, sd.scid,
                round(list_sum(list_transform(generate_series(1, 8),
                  j -> (v.embedding[s.s*8+j]::DOUBLE
                          - sd.embedding[s.s*8+j]::DOUBLE)
                     * (v.embedding[s.s*8+j]::DOUBLE
                          - sd.embedding[s.s*8+j]::DOUBLE))), 6) AS d2
              FROM embeddings v
              CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) s
              CROSS JOIN sd),
      codes AS (SELECT vec_id, s, scid FROM
                  (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                     ORDER BY d2 ASC, scid ASC) AS rn FROM sub)
                WHERE rn = 1),
      cand AS (SELECT p.qid, b.vec_id FROM probes p
               JOIN assign b ON p.probe = b.cid
               WHERE p.qid <> b.vec_id),
      approx AS (SELECT cd.qid, cd.vec_id, round(sum(q.d2), 6) AS approx_d2
                 FROM cand cd
                 JOIN codes c2 ON c2.vec_id = cd.vec_id
                 JOIN sub q ON q.vec_id = cd.qid AND q.s = c2.s
                           AND q.scid = c2.scid
                 GROUP BY 1, 2)"""
}
