package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SessionArtifacts
import graft.Tables.t
import graft.functions.TextFunctions._

/** A held-out bigram's domain, occurrence count and sparse per-domain
  * train counts for (w1, w2), w1 and w2 (null: absent from train). */
private[operators] final case class DoremiHeldOut(d: Int, nOcc: Long,
    cb: DoremiCounts, u1: DoremiCounts, u2: DoremiCounts)

/** Sparse per-domain counts: `cnt(i)` occurrences in domain `src(i)`. */
private[operators] final case class DoremiCounts(src: Array[Int],
    cnt: Array[Long]) {
  /** Σ count·α(domain), the α-weighted count. */
  def dot(alpha: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < src.length) { s += cnt(i) * alpha(src(i)); i += 1 }
    s
  }
}

private[operators] case class PackIn(shard: Int, doc_id: Long, n_tokens: Int)
private[operators] case class PackOut(doc_id: Long, shard: Int, pack_id: Int,
    pack_pos: Int, n_tokens: Int)

/** Corpus-curation operators a training-data pipeline runs AFTER the dedup
  * sketches exist: duplicate-cluster assignment, deterministic stratified
  * sampling, and benchmark decontamination.
  *
  * Scale design:
  *  - CLUSTERS is hash-min label propagation over the LSH pair set — each
  *    round is one O(E) message pass over the [[PairGraph]] edge list plus
  *    one `reduceByKey`; it converges in O(graph diameter) rounds. The pair set comes from
  *    [[Dedup.minhashPairs]], whose hot-bucket anchor-star guard already
  *    collapses giant clusters into stars (diameter 2), so the diameter is
  *    bounded by the CHAIN length of genuine near-dup overlaps, not by
  *    cluster size — planted 10k-copy clusters still converge in ~2 rounds.
  *  - SAMPLE is pure map-side: a per-row digest decides membership, so the
  *    sample is deterministic across re-runs, backfills, and engines — no
  *    RNG state, no seed-per-partition coupling, nothing to coordinate at
  *    1000 executors.
  *  - DECONTAMINATE joins train-side shingles against the DISTINCT shingle
  *    set of the eval source. Eval/benchmark sets are tiny next to a
  *    100 TB train corpus, so the eval side broadcasts and the join stays
  *    shuffle-free on the train side.
  */
object Curation {

  /** Owner in [[graft.SessionArtifacts]] of the converged cluster labels
    * and of the graph loops' result checkpoints ([[PairGraph]]). */
  private[graft] final val Owner = "curation"

  /** Session-memoized converged cluster labels per (session, corpus) —
    * the propagation loop runs driver-side actions, so its result is
    * materialized once and reread by every consumer (same lifecycle as
    * Dedup's signature index; released via [[graft.GraftSession.release]]).
    */
  private val ClusterKind = SessionArtifacts.Kind(Owner, "cluster-labels")

  /** Unpersist a localCheckpoint-backed frame's storage: the blocks live
    * on the checkpoint RDD inside the LogicalRDD leaf, not in the SQL
    * cache manager, so DataFrame.unpersist alone leaves them pinned
    * until GC.
    */
  private[graft] def freeCheckpoint(df: DataFrame): Unit = {
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = true)
    }
    df.unpersist(blocking = true)
  }

  /** Converged (doc_id, cluster_id) labels: every document labeled with the
    * minimum doc_id reachable through the near-dup pair graph
    * (singletons keep their own id). Hash-min propagation to fixpoint.
    *
    * Scale shape: the loop runs over PAIR-GRAPH NODES only — docs in at
    * least one near-dup pair. Singletons (the overwhelming majority of
    * any corpus) never change labels, so they stay out of the iteration
    * and rejoin once at the end via a left join. Each round is one
    * [[PairGraph]] message pass — every node sends its label to itself
    * and along its edges — folded by one `reduceByKey(min)`, and the
    * round's single job also counts the labels that fell (the
    * convergence check). O(|E|) per round, O(graph diameter) rounds.
    */
  private[operators] def clusterLabels(spark: SparkSession, dir: String,
      maxIter: Int = 20): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir, ClusterKind)(
        PairGraph.run(spark, dir) { g =>
      var labels: RDD[(Long, Long)] = g.degrees
        .mapPartitions(_.map { case (n, _) => (n, n) },
          preservesPartitioning = true)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // (smallest label seen, own label): a node's own message carries
        // its current label in both slots, a neighbor's only in the first
        val next = g.messages(labels)(l => Some((l, l)),
            l => Some((l, Long.MaxValue)))
          .reduceByKey(g.part,
            (a, b) => (math.min(a._1, b._1), math.min(a._2, b._2)))
        val changed = g.advance(next) {
          next.filter { case (_, (nxt, lbl)) => nxt < lbl }.count()
        }
        labels = next.mapValues(_._1)
        converged = changed == 0
        iter += 1
      }
      require(converged,
        s"cluster propagation did not converge in $maxIter iterations — " +
          "pair graph diameter exceeds the bound; raise maxIter")
      val lbl = spark.createDataFrame(
        labels.map { case (n, l) => Row(n, l) },
        StructType(Seq(StructField("node", LongType),
          StructField("lbl", LongType))))
      // eager: the labels' persisted rounds are freed when run() returns
      t(spark, dir, "documents").select(col("doc_id"))
        .join(lbl, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
        .localCheckpoint()
    })(freeCheckpoint)

  /** Duplicate clustering: (doc_id, cluster_id, cluster_size) for every
    * document, cluster_id = min doc_id of its connected near-dup component
    * (ref: the reference dedups row-wise with pandas drop_duplicates —
    * dags/projectde_dag.py's clean step; component-level identity is the
    * corpus-scale generalization).
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    // sizes is O(components) ≈ O(docs) — mostly singletons — so it is NOT
    // broadcastable at corpus scale; both sides shuffle on cluster_id.
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Cluster-aware dedup RETENTION: for every near-dup cluster with more
    * than one member, elect the HIGHEST-QUALITY document (tiebreak: lowest
    * doc_id) — the policy production pipelines actually apply, vs
    * [[dedupClusters]]'s min-id canonical labeling. The output is the
    * retention decision table a curation run joins against: kept doc, its
    * quality, and how many near-copies get dropped.
    *
    * Scale shape: reuses the memoized [[clusterLabels]] frame (no
    * re-pairing), joins the per-doc quality scores on doc_id (one
    * shuffle), and elects per cluster with a row_number window over
    * cluster_id — state per group is one row. Nothing here grows faster
    * than the near-dup doc count.
    */
  def keepBestPerCluster(spark: SparkSession, dir: String): DataFrame = {
    val joined = clusterLabels(spark, dir)
      .join(TextAnalysis.textQuality(spark, dir)
        .select(col("doc_id"), col("quality")), "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1 && col("cluster_size") > 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("kept_doc_id"), col("quality").as("kept_quality"),
        (col("cluster_size") - 1).as("n_dropped"))
  }

  /** Leakage-free train/val/test split: the unit of assignment is the
    * near-dup CLUSTER, not the document — every member of a cluster lands
    * in the same split, so a near-duplicate of a training document can
    * never leak into validation or test (the classic eval-contamination
    * failure doc-level random splits cannot prevent). Assignment is
    * content-addressed — first md5 hex byte of the cluster label against
    * 80/10/10 cut points (< 204 / < 230 of 256) — so the same corpus
    * yields the same split on any engine, cluster, partitioning, or
    * rerun, with no stored assignment table to keep consistent.
    *
    * Scale shape: reuses the memoized [[clusterLabels]] frame (no
    * re-pairing), then the split is a map-side expression and the
    * readout is one aggregation with 3 output groups.
    */
  def splitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val hv = conv(substring(md5(col("cluster_id").cast("string")), 1, 2),
      16, 10).cast("int")
    clusterLabels(spark, dir)
      .withColumn("split",
        when(hv < 204, "train").when(hv < 230, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
  }

  /** Curriculum assignment: split the corpus into quality QUARTILE phases
    * (easy → hard ordering for curriculum training) and report each
    * phase's volume. Phase cut points are the exact quality quartiles.
    *
    * Scale shape: the quartiles are ONE 1-row aggregate broadcast back
    * over the corpus (the dq_drift totals pattern) — phase assignment is
    * then a map-side comparison chain, and the final rollup groups on a
    * 4-value key. No global sort, no ntile's single-partition window.
    *
    * Determinism: quality is already 6-decimal-rounded; both engines
    * compute R-7 linear-interpolated quartiles from identical value sets
    * (`rank = p·(n−1)` exact for p = k/4), and an interpolated cut either
    * equals a data value exactly (tied neighbors) or sits strictly inside
    * a ≥1e-6-wide gap — 10 orders of magnitude above double ulp — so the
    * `quality > cut` phase tests cannot flip cross-engine. The phase mean
    * uses the integer-micro-units summation ([[TextAnalysis.textLmScore]]
    * pattern).
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val cuts = q.agg(
      expr("percentile(quality, 0.25)").as("c1"),
      expr("percentile(quality, 0.5)").as("c2"),
      expr("percentile(quality, 0.75)").as("c3"))
    q.join(broadcast(cuts))
      .withColumn("phase", lit(1)
        + (col("quality") > col("c1")).cast("int")
        + (col("quality") > col("c2")).cast("int")
        + (col("quality") > col("c3")).cast("int"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"),
        sum(round(col("quality") * 1e6).cast("long")).as("qu"))
      .select(col("phase"), col("n_docs"), col("n_tokens"),
        col("min_quality"), col("max_quality"),
        (round(col("qu").cast("double") / col("n_docs")).cast("long") / 1e6)
          .as("avg_quality"))
  }

  /** TEMPERATURE-scaled mixture weights (the mT5/multilingual-LM recipe:
    * `p_i ∝ n_i^τ`, τ < 1 upsamples the tail): per-source raw token
    * share, temperature share, and the integer token target + repeat
    * factor those shares imply at the corpus's own size. The knob that
    * turns "sample proportionally" (τ=1) into "flatten toward uniform"
    * (τ→0) for low-resource sources.
    *
    * Scale shape: one corpus scan collapsing to the |sources|-row token
    * table; everything after is arithmetic on that tiny frame (totals via
    * the unpartitioned-window idiom, zero extra scans).
    *
    * Determinism: the only transcendental is `pow(n_i, τ)` on integer
    * n_i — rounded to integer MICRO-units per source BEFORE the
    * normalizing sum, so Σ is exact long arithmetic (the textLmScore
    * pattern); targets are an integer cross-multiply (`u·T div U`), never
    * a double product.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val perSource = t(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("u",
        round(pow(col("n_tokens").cast("double"), TemperatureTau) * 1e6)
          .cast("long"))
    // pinned single partition over the |sources|-row aggregate (same
    // frame as the unpartitioned form, no WindowExec warning)
    val all = Window.partitionBy(Bounded.pinned(col("source")))
    perSource
      .withColumn("t_tokens", sum(col("n_tokens")).over(all))
      .withColumn("t_u", sum(col("u")).over(all))
      .withColumn("target_tokens",
        // widen BEFORE the cross-multiply: u·T exceeds long range around
        // 1e18 token-micro-units — decimal(38) keeps the product exact at
        // any corpus size (DuckDB side widens to HUGEINT the same way)
        expr("""CAST((CAST(u AS DECIMAL(38,0)) * CAST(t_tokens AS DECIMAL(38,0)))
                div CAST(t_u AS DECIMAL(38,0)) AS BIGINT)"""))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("t_tokens"), 6)
          .as("raw_share"),
        round(col("u").cast("double") / col("t_u"), 6).as("temp_share"),
        col("target_tokens"),
        round(col("target_tokens").cast("double") / col("n_tokens"), 4)
          .as("repeat_factor"))
  }

  private[operators] val TemperatureTau = 0.7

  /** PageRank defaults; the oracle's unrolled CTE chain is GENERATED from
    * these (ADVICE r7 pattern), so iteration count and damping cannot
    * drift between the Spark plan and the SQL — including the
    * `1 - damping` teleport constant, which is interpolated as the same
    * IEEE double Spark computes rather than a hand-typed decimal.
    */
  private[operators] val PagerankIters = 3
  private[operators] val PagerankDamping = 0.85

  /** PageRank (power iteration, fixed `iters` rounds, GraphX's
    * unnormalized `(1-d) + d·Σ rank/deg` formulation) over the near-dup
    * pair graph — "which documents sit at the center of a duplication
    * web", the graph-centrality sibling of [[dedupClusters]]'s
    * membership labels. A boilerplate hub (a licence page pasted into
    * thousands of crawls) out-ranks every leaf that copied it, so the
    * ranking orders candidates for canonical-document election.
    *
    * Scale shape: the iteration runs over PAIR-GRAPH NODES only (docs in
    * ≥1 near-dup pair — orders of magnitude below corpus size), never
    * the corpus. Edges come from the memoized candidate-pair index (no
    * re-pairing) as the shared [[PairGraph]] edge list; degrees are
    * counted where each node's edges live. Every iteration is one small
    * RDD job: one co-partitioned message pass (rank/deg along each edge)
    * folded by one `reduceByKey` on the same partitioner, so exactly one
    * shuffle per round and no per-round Catalyst planning. The previous
    * round's state is unpersisted as soon as the next is materialized.
    *
    * Cross-engine determinism: each iteration's rank is rounded to 9
    * decimals in BOTH engines, so IEEE summation-order drift (~1e-15)
    * resets every round instead of compounding; emitted ranks round to 6.
    * Undirected doubling gives every node an out-edge, so no dangling
    * mass correction is needed.
    */
  def graphPagerank(spark: SparkSession, dir: String,
      iters: Int = PagerankIters): DataFrame =
    PairGraph.run(spark, dir) { g =>
      // state (rank, degree); a node's own message carries its degree
      // into the next round, each edge carries rank/deg to its dst
      var ranks: RDD[(Long, (Double, Long))] = g.degrees.mapValues((1.0, _))
      for (_ <- 1 to iters) {
        val next = g.messages(ranks)({ case (_, d) => Some((0.0, d)) },
            { case (r, d) => Some((r / d, 0L)) })
          .reduceByKey(g.part, (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
          .mapValues { case (sum, d) =>
            (PairGraph.roundHalfUp(
              (1.0 - PagerankDamping) + PagerankDamping * sum, 9), d) }
        g.advance(next)(next.count())
        ranks = next
      }
      g.result(ranks.map { case (n, (r, d)) =>
          Row(n, PairGraph.roundHalfUp(r, 6), d) },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("pagerank", DoubleType),
          StructField("degree", LongType, nullable = false))))(
        _.orderBy(col("pagerank").desc, col("doc_id").asc))
    }

  /** Triangle census over the near-dup pair graph — the closure signal
    * PageRank misses. A doc whose neighbors are ALSO pairwise near-dups
    * sits inside a dense duplication clique (template families, mirror
    * farms); a doc with high degree but zero triangles is a hub stitching
    * unrelated near-dup chains (often a boilerplate-heavy page that
    * partially matches everything). The local clustering coefficient
    * 2·T(v) ∕ deg(v)·(deg(v)−1) separates the two, which is exactly what
    * a curation policy needs when deciding "drop the whole clique" vs
    * "keep the hub, drop its spokes".
    *
    * Scale shape — Schank–Wagner degree orientation, the MapReduce
    * triangle-counting standard (Suri & Vassilvitskii, WWW'11): every
    * edge is oriented toward its (degree, id)-larger endpoint, so each
    * triangle is enumerated exactly once at its smallest vertex and the
    * wedge self-join's volume is Σ_v outdeg(v)² = O(|E|^{3∕2}) worst
    * case instead of Σ_v deg(v)² (which a hot hub makes quadratic).
    * Edges come from the memoized MinHash candidate index (no
    * re-pairing), and the hot-bucket anchor-star guard upstream already
    * caps clique blowup from giant duplicate clusters. All joins are
    * equi-joins on node ids; the oriented-edge frame is checkpointed
    * once and probed three times (both wedge legs + the closing edge).
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupMinhashLsh(spark, dir).select(col("da"), col("db"))
    val scratch = scala.collection.mutable.Buffer.empty[DataFrame]
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); scratch += c; c
    }
    val und = ckpt(pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst"))))
    val deg = ckpt(und.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      .select(col("src").as("node"), col("deg"))
    // ≺ = (deg, id) total order; keep only ≺-increasing edges, carrying
    // the destination's degree so the wedge legs can be ≺-compared
    // without re-joining deg.
    val oe = ckpt(und
      .join(deg.select(col("node").as("sn"), col("deg").as("sd")),
        col("src") === col("sn"))
      .join(deg.select(col("node").as("dn"), col("deg").as("dd")),
        col("dst") === col("dn"))
      .filter(struct(col("sd"), col("src")) < struct(col("dd"), col("dst")))
      .select(col("src"), col("dst"), col("dd")))
    // wedge (a→b, a→c) with b ≺ c closes iff oriented edge b→c exists;
    // orientation guarantees each triangle {a≺b≺c} is counted once.
    val tri = oe.as("e1")
      .join(oe.as("e2"), col("e1.src") === col("e2.src") &&
        struct(col("e1.dd"), col("e1.dst")) <
          struct(col("e2.dd"), col("e2.dst")))
      .join(oe.as("e3"), col("e3.src") === col("e1.dst") &&
        col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("ta"), col("e1.dst").as("tb"),
        col("e2.dst").as("tc"))
    val perNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val out = deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node").as("doc_id"), col("deg").cast("long").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1))), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy(col("doc_id"))
      .localCheckpoint() // eager: safe to drop the scratch frames
    scratch.foreach(freeCheckpoint)
    out
  }

  /** Synchronous label-propagation rounds — fixed so the oracle can
    * replay the exact same schedule (async LPA is order-dependent). */
  private[operators] val LabelPropIters = 4

  /** Community detection over the near-dup pair graph by synchronous
    * label propagation (Raghavan et al. 2007, made deterministic): every
    * node starts as its own label; each round every node simultaneously
    * adopts the most frequent label among its neighbors, ties broken by
    * smallest label. Communities are FINER than connected components
    * (`cur_dedup_clusters`): a chain of weak near-dup links that hash-min
    * would fuse into one component splits at its sparse cut, which is the
    * granularity a curation policy wants for "keep one per template
    * family" decisions (components over-merge through boilerplate hubs).
    *
    * Determinism: synchronous update + (count desc, label asc) argmax is
    * a pure function of the round number — no dependence on partition
    * visit order — so DuckDB replays it as k chained CTEs bit-for-bit.
    *
    * Scale shape: edges come from the memoized MinHash candidate index
    * (no re-pairing of the corpus) as the shared [[PairGraph]] edge
    * list. Each round is one small RDD job: a co-partitioned message
    * pass (each edge votes its src's label) and ONE `combineByKey` on
    * dst that builds each node's per-label vote counts map-side first,
    * then takes the argmax per node — never global. k is a constant, so
    * total work is O(k·|E|).
    */
  def graphLabelProp(spark: SparkSession, dir: String,
      iters: Int = LabelPropIters): DataFrame =
    PairGraph.run(spark, dir) { g =>
      var labels: RDD[(Long, Long)] = g.degrees
        .mapPartitions(_.map { case (n, _) => (n, n) },
          preservesPartitioning = true)
      for (_ <- 1 to iters) {
        // each edge votes its src's label to dst; a node adopts the
        // (count desc, label asc) winner of its per-label vote counts
        val next = g.messages(labels)(_ => None, l => Some(l))
          .combineByKey[mutable.HashMap[Long, Long]](
            l => mutable.HashMap(l -> 1L),
            (m, l) => { m(l) = m.getOrElse(l, 0L) + 1L; m },
            (a, b) => {
              b.foreach { case (l, c) => a(l) = a.getOrElse(l, 0L) + c }; a
            },
            g.part)
          .mapValues { votes =>
            var (best, bestC) = (Long.MaxValue, -1L)
            votes.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < best)) { best = l; bestC = c }
            }
            best
          }
        g.advance(next)(next.count())
        labels = next
      }
      g.result(labels.map { case (n, l) => Row(n, l) },
        StructType(Seq(StructField("node", LongType),
          StructField("label", LongType)))) { lab =>
        val sizes = lab.groupBy(col("label"))
          .agg(count(lit(1)).as("community_size"))
        lab.join(sizes, "label")
          .select(col("node").as("doc_id"), col("label").as("community"),
            col("community_size"))
          .orderBy(col("community"), col("doc_id"))
      }
    }

  /** BFS rounds / seed count — the oracle's unrolled CTE chain is
    * GENERATED from these, so the schedule cannot drift between engines.
    */
  private[operators] val KhopIters = 4
  private[operators] val KhopSeeds = 5

  /** k-hop reachability (frontier BFS) over the near-dup pair graph from
    * a deterministic seed set — "how far does a duplication web spread
    * from its oldest members". Answers the blast-radius question the
    * component label ([[dedupClusters]]) flattens: a doc 1 hop from a
    * seed is a direct near-dup; a doc 4 hops out is connected only
    * through a chain of partial overlaps, which a curation policy may
    * treat very differently (drop vs audit). Seeds are the
    * [[KhopSeeds]] smallest node ids in the pair graph — a total order
    * both engines share, no RNG.
    *
    * Scale shape — textbook frontier BFS, not dist-relaxation: each
    * round expands ONLY the nodes discovered last round (join frontier ⋈
    * edges, one shuffle on src), dedups the neighbor set, and anti-joins
    * the visited set to keep the frontier monotone shrinking. Work per
    * round is O(edges incident to the frontier), not O(|E|); total work
    * is O(edges within k hops of the seeds) — on a 100 TB corpus the
    * 4-hop ball of 5 seeds is microscopic next to the pair graph, and
    * nothing here touches the corpus itself (edges come from the
    * memoized MinHash candidate index, no re-pairing). BFS level order
    * IS min-hop order, so a node's first discovery level is its
    * distance. Each round is one small RDD job over the shared
    * [[PairGraph]] edge list: only the last round's frontier sends along
    * its edges, visited nodes keep their hop, and one `reduceByKey(min)`
    * on the same partitioner keeps each node's first discovery.
    */
  def graphKhop(spark: SparkSession, dir: String,
      iters: Int = KhopIters): DataFrame =
    PairGraph.run(spark, dir) { g =>
      // seed = the KhopSeeds smallest node ids, a total order every engine
      // reproduces (takeOrdered: per-partition top-n, driver merge)
      val seeds = g.degrees.keys.takeOrdered(KhopSeeds).toSet
      var dist: RDD[(Long, Int)] = g.degrees
        .mapPartitions(_.collect { case (n, _) if seeds(n) => (n, 0) },
          preservesPartitioning = true)
      for (i <- 1 to iters) {
        // visited nodes keep their hop; only last round's frontier
        // (hop = i - 1) expands; min keeps a node's first discovery
        val next = g.messages(dist)(h => Some(h),
            h => if (h == i - 1) Some(i) else None)
          .reduceByKey(g.part, math.min(_, _))
        g.advance(next)(next.count())
        dist = next
      }
      g.result(dist.map { case (n, h) => Row(n, h) },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("hop", IntegerType, nullable = false))))(
        _.orderBy(col("hop"), col("doc_id")))
    }

  /** k-core defaults; the oracle's unrolled CTE chain is GENERATED from
    * these (the PagerankIters pattern), so k and the peel-round count
    * cannot drift between the Spark plan and the SQL.
    */
  private[operators] val KCoreK = 2
  private[operators] val KCoreRounds = 4

  /** K-CORE decomposition (iterative peeling, Seidman 1983; the
    * MapReduce formulation follows Montresor et al.) over the near-dup
    * pair graph — the subgraph-density signal the triangle census
    * approximates locally: repeatedly remove nodes whose degree among
    * SURVIVORS falls under k, and what remains is the k-core, the
    * maximal subgraph where every member keeps ≥ k within-subgraph
    * near-dup partners. For curation this separates structure from
    * fringe: 2-core members sit inside genuine duplication webs
    * (template families, mirror farms — candidates for cluster-level
    * policy), while peel-round-1 nodes are leaf attachments (one
    * accidental shingle match) a per-pair policy handles. The emitted
    * `peel_round` (0 = in-core survivor, i ≥ 1 = removed at peel i) is
    * the node's coreness layer, and the fixed [[KCoreRounds]] unroll is
    * spec-checked to be a FIXPOINT on the tested corpora (the last peel
    * removes nothing), so the survivor set IS the true 2-core there —
    * on a corpus where R peels don't converge the output is the honest
    * R-round lower envelope (documented, not hidden).
    *
    * Scale shape: peeling runs over PAIR-GRAPH NODES only, never the
    * corpus. Edges come from the memoized candidate-pair index
    * (no re-pairing) as the shared [[PairGraph]] edge list. Each peel
    * round is one small RDD job: every alive node messages its
    * neighbors, and one `reduceByKey` on the same partitioner sums each
    * node's alive-neighbor count (the edge list is symmetric, so that IS
    * its degree among survivors) and peels the nodes under k. Output is
    * one row per pair-graph node.
    */
  def graphKcore(spark: SparkSession, dir: String,
      rounds: Int = KCoreRounds): DataFrame =
    PairGraph.run(spark, dir) { g =>
      // state (degree, peel round; 0 = still alive). Edges are
      // symmetric, so the alive srcs messaging a node count exactly its
      // edges to alive neighbors — its degree among survivors.
      var st: RDD[(Long, (Long, Int))] = g.degrees.mapValues((_, 0))
      for (i <- 1 to rounds) {
        val next = g.messages(st)(s => Some((s._1, s._2, 0L)),
            s => if (s._2 == 0) Some((-1L, 0, 1L)) else None)
          .reduceByKey(g.part, (a, b) =>
            (math.max(a._1, b._1), math.max(a._2, b._2), a._3 + b._3))
          .mapValues { case (d, p, alive) =>
            (d, if (p == 0 && alive < KCoreK) i else p) }
        g.advance(next)(next.count())
        st = next
      }
      g.result(st.map { case (n, (d, p)) => Row(n, d, p) },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("degree", LongType, nullable = false),
          StructField("peel_round", IntegerType, nullable = false))))(
        _.orderBy(col("doc_id")))
    }

  /** SOFT deduplication — duplicate-aware DOWN-WEIGHTING instead of
    * dropping: every doc in a near-dup cluster of size c gets sampling
    * weight 1∕c, so each cluster contributes one unit of probability
    * mass to the training mix no matter how many near-copies were
    * crawled. This is the policy a pipeline picks when duplication
    * frequency IS signal (popular licenses, boilerplate worth one copy)
    * and hard dedup ([[keepBestPerCluster]]) would erase the content
    * entirely; the per-source effective-token report is the input the
    * mixture planner ([[temperatureMix]]) consumes in place of raw
    * counts.
    *
    * Scale shape: cluster identity comes from the MEMOIZED
    * [[clusterLabels]] frame (no re-pairing of the corpus); sizes are
    * one groupBy on cluster_id and the join back rides the same key's
    * exchange; the per-doc token counts join on doc_id (one fact-sized
    * shuffle) and the rollup keys on |sources| rows. Weights are
    * integer MICRO-units (`10⁶ div c` — exact in both engines), so
    * every emitted sum is an exact BIGINT: no float summation order
    * anywhere.
    */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("c"))
    val wts = labels.join(sizes, "cluster_id")
      .select(col("doc_id"), expr("1000000 div c").cast("long").as("wt"))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(wts, "doc_id")
      .select(col("source"), col("n_tok"), col("wt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("wt")).as("eff_docs_micro"),
        sum(col("n_tok") * col("wt")).as("eff_tokens_micro"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("eff_docs_micro"), col("eff_tokens_micro"),
        round(col("eff_tokens_micro").cast("double")
          / (col("n_tokens").cast("double") * lit(1000000.0)), 6)
          .as("keep_ratio"))
      .orderBy(col("source"))
  }

  /** The stratum membership predicate: first byte of md5(doc_id) under the
    * per-language rate — 128/256 for English, 64/256 otherwise.
    */
  private def sampleKeep: org.apache.spark.sql.Column = {
    val hv = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
      .cast("int")
    hv < when(col("lang") === "en", 128).otherwise(64)
  }

  /** Deterministic stratified sample: keep a doc iff the first byte of
    * md5(doc_id) falls under its stratum's rate — 50% for English, 25%
    * for every other language. Content-addressed membership: the same doc
    * is in or out on every engine, every re-run, every backfill.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(sampleKeep)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** Quality-WEIGHTED deterministic sampling: keep a doc with probability
    * equal to its quality score — the "sample proportional to a model
    * score" stage real curation pipelines run between filtering and
    * packing. Membership is content-addressed like [[sampleStratified]]
    * (digest byte / 256 < quality), so the same doc is in or out on every
    * engine, re-run, and backfill — no RNG coordination across 1000
    * executors. The quality column is the per-row map-side score from
    * [[TextAnalysis.textQuality]]; the join on doc_id shuffles only
    * (doc_id, quality), the [[CorpusPipeline.corpusClean]] convention.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val hv = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
      .cast("int")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .join(q, "doc_id")
      .filter(hv.cast("double") / 256.0 < col("quality"))
  }

  /** The held-out eval source every contamination check measures the
    * training sources against, interpolated into the oracles. */
  private[graft] val EvalSource = "src0"

  /** [[decontaminate]]'s overlap threshold, also the leak-share ceiling
    * of the streaming curate screen, interpolated into the oracles. */
  private[graft] val DecontamTau = 0.8

  /** Benchmark decontamination: flag training documents (source <> the
    * eval source) whose distinct-3-gram overlap with the ENTIRE eval
    * source's shingle set is ≥ τ. Returns (doc_id, n_shared, overlap) —
    * the removal list a pipeline anti-joins against.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val sh = t(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        explode(call_function("graft_shingles3", col("w"))).as("s"))
    val evalShingles = sh.filter(col("source") === EvalSource)
      .select(col("s")).distinct()
    val train = sh.filter(col("source") =!= EvalSource)
      .select(col("doc_id"), col("s"))
    // per-doc totals are O(train docs) — shuffled join, not broadcast; the
    // hit side after the eval filter is tiny so AQE localizes it anyway
    val counts = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    train.join(broadcast(evalShingles), "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(counts, "doc_id")
      .withColumn("overlap",
        round(col("n_shared").cast("double") / col("n_sh"), 6))
      .filter(col("n_shared").cast("double") / col("n_sh") >= DecontamTau)
      .select(col("doc_id"), col("n_shared"), col("overlap"))
  }

  /** Leak-share floor (ppm of an eval item's shingles found in train)
    * above which [[contaminationReport]] marks the item compromised.
    * Shared with the oracle.
    */
  private[operators] val ContamLeakPpm = 500000L

  /** EVAL-SIDE contamination report — the flip side of
    * [[decontaminate]]: that operator asks "which TRAIN docs must go",
    * this one asks the question every model report has to answer —
    * "which BENCHMARK items are compromised, and how badly?" (the
    * n-gram-overlap contamination analysis popularized by the GPT-3
    * appendix and standard in model cards since). Per eval doc: its
    * distinct word-3-gram shingle count, how many of those shingles
    * appear ANYWHERE in the training split, the leak share in exact
    * integer ppm, and the compromised verdict at the 50% floor. An item
    * can leak via any number of train docs — the report is about the
    * ITEM, so the leak set is deduplicated corpus-wide before the
    * per-item count.
    *
    * Scale shape: the eval shingle set is tiny and broadcasts; the
    * 100 TB train side streams through ONE broadcast hash join (the
    * decontaminate discipline) and only the matched shingles — bounded
    * by the eval set — reach the distinct. Both per-item aggregations
    * run on the eval side only. The contamination algebra itself never
    * shuffles the train side; the only train-side exchange in the plan
    * is the shared small-fixture work-spreading repartition of
    * (id, text) documented at Dedup.scala's shingle frame — a no-op
    * cost on a real multi-row-group layout.
    */
  def contaminationReport(spark: SparkSession, dir: String,
      evalSource: String = EvalSource): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val sh = t(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        explode(call_function("graft_shingles3", col("w"))).as("s"))
    val ev = sh.filter(col("source") === evalSource)
      .select(col("doc_id"), col("s"))
    val evalSet = ev.select(col("s")).distinct()
    val leaked = sh.filter(col("source") =!= evalSource)
      .join(broadcast(evalSet), "s")
      .select(col("s")).distinct()
    val totals = ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = ev.join(broadcast(leaked), "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
    totals.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_leaked"))
      .withColumn("leak_ppm", expr("(n_leaked * 1000000) div n_sh"))
      .select(col("doc_id"), col("n_sh"), col("n_leaked"), col("leak_ppm"),
        (col("leak_ppm") >= ContamLeakPpm).as("compromised"))
      .orderBy(col("doc_id"))
  }

  /** The full training-data prep pipeline — what the operator families
    * compose into at 100 TB: exclude the eval source, keep docs above the
    * quality floor, drop benchmark-contaminated docs, keep exactly one
    * representative per near-dup cluster (the min doc_id), then take the
    * deterministic stratified sample. Every stage is one of this module's
    * oracle-checked operators; cluster labels come from the session memo,
    * contamination and quality are computed over the FULL corpus (as their
    * standalone operators do), and all the row-level predicates are
    * map-side.
    */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val reps = clusterLabels(spark, dir)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
    val contaminated = decontaminate(spark, dir)
      .select(col("doc_id"))
    t(spark, dir, "documents")
      .filter(col("source") =!= EvalSource)
      .filter(sampleKeep)
      .join(quality, "doc_id")
      .filter(col("quality") >= CorpusPipeline.MinQuality)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(reps, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
  }

  /** Export shards of the curated corpus and of [[globalShuffle]],
    * interpolated into the oracles. */
  private[operators] val ShardCount = 8

  /** Deterministic shard id from md5 hex chars 3–4 (independent of the
    * sampling window, chars 1–2): the export layout is content-addressed,
    * so re-running the export on any engine or partitioning lands every
    * doc in the same shard file.
    */
  private def shardOf: org.apache.spark.sql.Column =
    (conv(substring(md5(col("doc_id").cast("string")), 3, 2), 16, 10)
      .cast("int") % ShardCount).as("shard")

  /** Curated corpus with its export shard assignment — what the writer
    * partitions by (see graft.Main --curate).
    */
  def curatedShards(spark: SparkSession, dir: String): DataFrame =
    corpusCurate(spark, dir).withColumn("shard", shardOf)

  /** The export plan: per-shard doc counts and byte totals over the
    * CURATED corpus — the balance check run before a training export.
    */
  def shardPlan(spark: SparkSession, dir: String): DataFrame =
    curatedShards(spark, dir)
      .join(t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_bytes"))

  /** Sequence packing: assign docs to fixed-token-budget training rows.
    * Deterministic greedy next-fit per shard — docs are visited in
    * ascending `doc_id` order within their content-addressed shard; a doc
    * joins the current pack iff the pack's running token count stays
    * ≤ `budget`, else it opens the next pack. Multi-doc packs therefore
    * never exceed the budget; a pack exceeds it only when a SINGLE doc is
    * alone larger than the budget (such docs still pack — alone — so no
    * doc is ever lost; cap long docs upstream if that matters).
    *
    * Scale: packing is inherently sequential PER PACK STREAM, and the
    * pack stream of a training export is the shard — one writer's worth
    * of data, bounded by design (nShards scales with corpus size). So the
    * plan is one shuffle on `shard`, then a per-partition O(shard) fold
    * with ~16 bytes of state; 1000 executors each pack their shards
    * independently, and the content-addressed shard + doc_id order makes
    * the assignment reproducible across engines, re-runs, and
    * partitionings.
    *
    * Input columns: `shard` (int), `doc_id` (long), `n_tokens` (int).
    * Output: (doc_id, shard, pack_id, pack_pos, n_tokens) — `pack_id` is
    * shard-local, `pack_pos` the doc's position inside its pack.
    */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("shard").cast("int"), col("doc_id").cast("long"),
        col("n_tokens").cast("int")).as[PackIn]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .mapPartitions { it =>
        // a partition holds whole shards (hash-partitioned on shard);
        // reset the fold state at each shard boundary. An explicit
        // first-row flag (not a sentinel shard value) — shards are only
        // cast, not validated, so ANY Int is a legal shard id and a
        // sentinel like Int.MinValue could collide with real data.
        var first = true; var shard = 0
        var packId = 0; var pos = 0; var acc = 0
        it.map { r =>
          if (first || r.shard != shard) {
            first = false
            shard = r.shard; packId = 0; pos = 0; acc = r.n_tokens
          } else if (acc + r.n_tokens <= budget) {
            pos += 1; acc += r.n_tokens
          } else {
            packId += 1; pos = 0; acc = r.n_tokens
          }
          PackOut(r.doc_id, r.shard, packId, pos, r.n_tokens)
        }
      }.toDF()
  }

  /** Token budget and document separator of the curated packs,
    * interpolated into the oracles. */
  private[operators] val PackBudget = 256
  private[operators] val PackSep = " <|doc|> "

  /** The curated corpus packed for training: shard assignment from
    * [[curatedShards]], token counts from the whitespace tokenizer, packs
    * from [[packSequences]].
    */
  def packCurated(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
    packSequences(
      curatedShards(spark, dir)
        .select(col("doc_id"), col("shard")).join(toks, "doc_id"),
      PackBudget)
  }

  /** Pack ASSEMBLY — the materialized training rows: per (shard, pack_id),
    * the member texts concatenated in pack_pos order behind a document
    * separator, plus the pack's doc/token totals. This is the row a
    * trainer's data loader actually reads; [[packCurated]] is its
    * assignment plan.
    *
    * Scale: one shuffle on (shard, pack_id); the per-group state is one
    * pack's worth of text — bounded by the token budget, by construction
    * the size of one training row. The in-group sort is over ≤ pack_size
    * elements (array_sort on collected structs), never a global sort.
    */
  def assemblePacks(spark: SparkSession, dir: String): DataFrame =
    packCurated(spark, dir)
      .join(t(spark, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id")
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("pack_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pack_pos"), col("text")))),
            s => s.getField("text")),
          PackSep).as("text"))

  /** Deterministic per-stratum top-N sampling: keep the N docs with the
    * SMALLEST content-addressed hash per source — exact per-stratum row
    * counts (where [[sampleStratified]] gives exact rates and
    * [[mixtureSample]] exact token budgets), still fully reproducible
    * across engines and re-runs. Runs on the native TopKPerKey operator
    * (bounded per-partition heaps, no sort, no window), ordering
    * ascending on the first 60 bits of md5(doc_id) with doc_id as the
    * tie-break.
    */
  def sampleTopNPerSource(spark: SparkSession, dir: String,
      n: Int = 10): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .filter(call_function("graft_topk", lit(n),
        col("hv"), lit("asc"), col("doc_id"), col("source")))
  }

  /** Per-source token budget of [[mixtureSample]], interpolated into the
    * oracle. */
  private[operators] val MixtureBudget = 600L

  /** Data-mixture sampling by TOKEN budget: per source, keep the prefix of
    * docs — in content-addressed md5(doc_id) order — whose running token
    * count stays ≤ the source's budget. Real pipelines mix corpora by
    * token share, not row rate; the hash order makes the kept set
    * deterministic across engines/re-runs/backfills (same contract as
    * [[sampleStratified]]), and the budget-prefix semantics make it exact,
    * not expected-value.
    *
    * Scale: the running count is a TWO-PHASE prefix sum (the same
    * decomposition as the two-phase rank in Relational.o1): bucket = first
    * byte of the hash, so ordering by (bucket, hash) equals ordering by
    * hash; per-(source,bucket) subtotals are ≤256 tiny rows per source
    * whose window is trivial, and the within-bucket cumsum windows over
    * 1/256th of a source each — no per-source global sort anywhere, skew
    * bounded by bucket width.
    */
  def mixtureSample(spark: SparkSession, dir: String,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"),
        md5(col("doc_id").cast("string")).as("hv"))
      .withColumn("bucket",
        conv(substring(col("hv"), 1, 2), 16, 10).cast("int"))
    val offs = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("off", coalesce(sum(col("btok")).over(
          Window.partitionBy(col("source")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("bucket"), col("off"))
    val budgetCol = budgets.foldLeft(lit(MixtureBudget)) {
      case (acc, (s, b)) => when(col("source") === s, lit(b)).otherwise(acc)
    }
    docs.join(offs, Seq("source", "bucket"))
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(
          Window.partitionBy(col("source"), col("bucket"))
            .orderBy(col("hv"), col("doc_id"))))
      .filter(col("cum_tokens") <= budgetCol)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Quality-filter THRESHOLD SWEEP — the ablation table a curation
    * decision actually reads ("if we cut at 0.6 we keep 71% of docs but
    * 83% of tokens") instead of committing to one threshold blind: for
    * every cut t ∈ {0.0, 0.1, …, 0.9}, how many documents and tokens
    * survive `quality ≥ t`, as counts and corpus shares. One pass bins
    * each doc by quality decile; the sweep is a 10-row cumulative window
    * over the binned aggregate — the full sweep costs exactly one
    * corpus scan no matter how many thresholds are read off it.
    *
    * Scale shape: map-side quality scoring → one shuffle to the 10-bin
    * aggregate → windows over 10 rows. The dense bin spine keeps all 10
    * thresholds present even when a decile is empty.
    */
  def curFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val binned = q
      .withColumn("bin",
        least(floor(col("quality") * 10), lit(9.0)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
    val spine = spark.range(10).select(col("id").cast("int").as("bin"))
    // pinned single partition over the fixed 10-row spine (same frames
    // as the unpartitioned forms, no WindowExec warning)
    val wCum = Window.partitionBy(Bounded.pinned(col("bin")))
      .orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(Bounded.pinned(col("bin")))
    spine.join(binned, Seq("bin"), "left_outer")
      .select(col("bin"), coalesce(col("nd"), lit(0L)).as("nd"),
        coalesce(col("nt"), lit(0L)).as("nt"))
      .withColumn("n_docs_surviving", sum(col("nd")).over(wCum))
      .withColumn("n_tokens_surviving", sum(col("nt")).over(wCum))
      .withColumn("doc_share", round(col("n_docs_surviving").cast("double") /
        sum(col("nd")).over(wAll), 6))
      .withColumn("token_share",
        round(col("n_tokens_surviving").cast("double") /
          sum(col("nt")).over(wAll), 6))
      .select(round(col("bin") / 10.0, 1).as("threshold"),
        col("n_docs_surviving"), col("n_tokens_surviving"),
        col("doc_share"), col("token_share"))
  }

  /** Documents per source [[topQualityPerSource]] keeps, interpolated
    * into the oracle. */
  private[operators] val TopQualityK = 5

  /** Top-k quality docs per source via the native TopKPerKey operator —
    * the custom plan stack (marker → rewrite → bounded-heap exec, no sort,
    * no window) doing real work inside the curation family.
    */
  def topQualityPerSource(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "documents").select(col("doc_id"), col("source"))
      .join(TextAnalysis.textQuality(spark, dir)
        .select(col("doc_id"), col("quality")), "doc_id")
      .filter(call_function("graft_topk", lit(TopQualityK),
        col("quality"), col("doc_id"), col("source")))
  }

  /** Corpus DATA CARD — the per-source summary sheet a training-data team
    * reads before mixing corpora: volume (docs, tokens), quality, language
    * spread, and near-duplicate contamination. One pass over the corpus
    * joined with the per-row quality scores and the (memoized) LSH dup
    * set; everything aggregates partial+final on the low-cardinality
    * source key.
    */
  def corpusDataCard(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val dup = Dedup.minhashPairs(spark, dir)
      .filter(col("sim_est") >= 0.5)
      .select(explode(array(col("da"), col("db"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .join(q, "doc_id")
      .join(dup, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        round(avg(col("quality")), 6).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"))
  }

  /** [[globalShuffle]]'s seed, interpolated into the oracle. */
  private[operators] val ShuffleSeed = 42L

  /** Deterministic GLOBAL TRAINING-ORDER SHUFFLE — the reproducible
    * permutation + balanced sharding a training pipeline needs before
    * writing epoch data: identical (seed, corpus) always yields the
    * identical order, on any cluster, any partitioning, any engine.
    * Every doc gets a pseudorandom sort key (md5 of "seed:doc_id", seed
    * [[ShuffleSeed]]), a shard (first 4 hex chars of the key mod
    * [[ShardCount]] — key-derived, so
    * shards are balanced by md5 uniformity), and a dense within-shard
    * position.
    *
    * Scale shape: the key and shard are map-side expressions; the only
    * shuffle is the per-shard window for the dense position — partitioned
    * by shard, i.e. the exact exchange a sharded epoch WRITE needs
    * anyway (repartition by shard, sort within). No global sort, no
    * single-partition stage.
    */
  def globalShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // hex→int via instr arithmetic: portable to the oracle verbatim
    // (DuckDB instr == Spark instr), no engine-specific hash involved
    val hex4 =
      """(instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 4096 +
         (instr('0123456789abcdef', substr(skey, 2, 1)) - 1) * 256 +
         (instr('0123456789abcdef', substr(skey, 3, 1)) - 1) * 16 +
         (instr('0123456789abcdef', substr(skey, 4, 1)) - 1)"""
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(":", lit(ShuffleSeed), col("doc_id"))).as("skey"))
      .withColumn("shard", expr(s"CAST(($hex4) % $ShardCount AS INT)"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("skey"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"), col("skey"))
  }

  /** Fractional per-source EPOCH PLAN — the mixture-of-epochs schedule a
    * pretraining run consumes: high-value sources repeat for multiple
    * epochs, commodity sources see less than one pass, and the plan says
    * exactly which (doc, epoch) pairs exist. Targets are fractional
    * ([[EpochTierHigh]] = 2.5 means two full passes plus a deterministic
    * half-sample third); full epochs keep every doc, the final partial
    * epoch keeps a doc iff its content-addressed digest byte — md5 of
    * `doc_id:epoch`, the [[sampleStratified]] convention salted by epoch
    * so successive partial epochs draw INDEPENDENT subsets — clears the
    * fractional part. Identical (corpus, tier map) ⇒ identical plan on
    * any engine, cluster, or rerun; no RNG state to coordinate.
    *
    * Scale shape: map-side CASE + a ≤⌈max target⌉-wide `sequence` explode
    * + a per-row filter — zero shuffles, output bounded by
    * Σ⌈target⌉·|docs|. The epoch column is exactly what a downstream
    * [[globalShuffle]]-per-epoch or shard write partitions on.
    */
  private[operators] val EpochTierHigh = 2.5 // src0..src3: premium sources
  private[operators] val EpochTierMid = 1.25 // src4..src7
  private[operators] val EpochTierBase = 1.0 // the long tail
  private[operators] val EpochHighSrcs = (0 to 3).map(i => s"src$i")
  private[operators] val EpochMidSrcs = (4 to 7).map(i => s"src$i")

  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = when(col("source").isin(EpochHighSrcs: _*), EpochTierHigh)
      .when(col("source").isin(EpochMidSrcs: _*), EpochTierMid)
      .otherwise(EpochTierBase)
    // digest byte of "doc_id:epoch" — partial-epoch membership, salted by
    // epoch so each partial draw is independent of every other epoch's
    val hv = conv(substring(md5(concat_ws(":", col("doc_id"), col("epoch"))),
      1, 2), 16, 10).cast("int")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), target.as("epochs_target"))
      .withColumn("epoch",
        explode(expr("sequence(1, CAST(ceil(epochs_target) AS INT))")))
      .filter(col("epoch") <= floor(col("epochs_target")) ||
        hv.cast("double") / 256.0 <
          col("epochs_target") - floor(col("epochs_target")))
      .select(col("doc_id"), col("source"), col("epochs_target"),
        col("epoch"))
  }

  /** TOKEN-BUDGET REPORT — the mixture-accounting table a pretraining
    * data lead reads before locking an epoch plan: per source, how many
    * tokens exist, what share of the corpus that is, what share the
    * mixture SPEC wants ([[EpochHighBp]]/[[EpochMidBp]] in integer basis
    * points, split evenly inside each tier), the token deficit/surplus
    * against that target, and `repeat_factor` — the per-source epoch
    * multiplier that would hit the target exactly, i.e. the number
    * [[epochPlan]]'s tier map is a rounded instance of.
    *
    * Scale shape: one scan — per-row token count is map-side, then a
    * groupBy(source) partial+final aggregate (|sources| rows) with the
    * 1-row corpus total broadcast back. Deficits are INTEGER basis-point
    * cross-multiplication (`bp·T DIV 10000`), so both engines agree to
    * the token; only the emitted ratio divides, and that is one exact
    * long/long IEEE division rounded to 4.
    */
  private[operators] val EpochHighBp = 1000 // 10.00% of corpus tokens EACH
  private[operators] val EpochMidBp = 500 // 5.00% each
  private[operators] val TotalBp = 10000
  // the long tail splits the remaining basis points evenly; the divisor
  // is the corpus' 12 non-tier sources (srcs are a closed driver-fixture
  // set — at 100 TB this CASE becomes a broadcast dim-table join)
  private[operators] val EpochTailBp =
    (TotalBp - EpochHighSrcs.size * EpochHighBp
      - EpochMidSrcs.size * EpochMidBp) / 12

  def tokenBudgetReport(spark: SparkSession, dir: String): DataFrame = {
    val perSource = t(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
    budgetReportTail(perSource)
  }

  /** The same report in TOKENIZER tokens — the unit a trainer actually
    * budgets (whitespace counts over- or under-state a corpus by its
    * subword compression, and the gap VARIES by source): per-doc subword
    * counts come from [[TextAnalysis.textBpeEncode]]'s trained-merge
    * chain, then the identical share/target/deficit math runs on those.
    * Composition cost: the merge list is learned once (vocabulary-scale)
    * and the per-doc encode is map-side; only the doc_id join and the
    * |sources|-row aggregate are added.
    */
  def tokenBudgetReportBpe(spark: SparkSession, dir: String): DataFrame = {
    val enc = TextAnalysis.textBpeEncode(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val perSource = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(enc, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("n_tokens"))
    budgetReportTail(perSource)
  }

  private def budgetReportTail(perSource: DataFrame): DataFrame = {
    val bp = when(col("source").isin(EpochHighSrcs: _*), EpochHighBp)
      .when(col("source").isin(EpochMidSrcs: _*), EpochMidBp)
      .otherwise(EpochTailBp)
    // Corpus total via a pinned-partition window over the |sources|-row
    // aggregate (the dq_skew_report pattern) — NOT a second 1-row agg
    // joined back, which would re-execute the scan lineage: one parquet
    // pass total, and the single-partition window holds |sources| rows.
    perSource
      .withColumn("t_tokens", sum(col("n_tokens"))
        .over(Window.partitionBy(Bounded.pinned(col("source")))))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("t_tokens"), 6)
          .as("actual_share"),
        bp.as("target_bp"),
        (bp * col("t_tokens")).cast("long").as("scaled"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("actual_share"), col("target_bp"),
        expr(s"scaled DIV $TotalBp").as("target_tokens"),
        (expr(s"scaled DIV $TotalBp") - col("n_tokens"))
          .as("deficit_tokens"),
        round(expr(s"scaled DIV $TotalBp").cast("double") / col("n_tokens"),
          4).as("repeat_factor"))
  }

  /** Cluster-size HISTOGRAM over the near-dup components — the headline
    * "how duplicated is this corpus" readout every dedup writeup quotes
    * (share of docs in size-k clusters, k = 1 meaning unique): reads the
    * memoized cluster labels ([[dedupClusters]]' substrate — no
    * re-pairing), reduces to one row per COMPONENT first (O(components),
    * mostly singletons), then to one row per size. The per-size doc mass
    * in exact PPM says how much a keep-one policy would delete before
    * anyone runs it.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val perCluster = dedupClusters(spark, dir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
    val tot = perCluster.agg(sum(col("cluster_size")).as("n_total"))
    perCluster.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .join(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("(n_docs * 1000000) div n_total").as("docs_ppm"))
      .orderBy(col("cluster_size"))
  }

  /** How many docs [[sampleEsTopN]] draws. */
  private[operators] val EsSampleN = 100

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement
    * (Efraimidis & Spirakis 2006): every doc gets the key
    * `u^(1/w)` — here its monotone log form `ln(u)/w` — and the top-N
    * keys ARE an exact weighted sample without replacement. This is the
    * fixed-SIZE counterpart to [[sampleWeighted]]'s Bernoulli draw
    * (expected-rate, variable size): a distributed one-pass primitive
    * where the classical sequential algorithm needs a shared reservoir.
    * Weight = the corpus quality score; u is CONTENT-ADDRESSED
    * (`(v + 0.5) / 2³²` from the doc_id md5 prefix — strictly inside
    * (0,1), an exact dyadic rational), so the draw is a pure function of
    * the corpus: identical on 1 or 1000 executors, re-runs, and engines.
    *
    * Engine-exactness: weight and key are integer micro-units; the key's
    * one `ln` and one divide are a fixed IEEE chain on exactly
    * representable inputs, rounded once. Scale: one scan, map-side key
    * computation, TakeOrdered top-N — no shuffle of un-reduced rows.
    */
  def sampleEsTopN(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("wAll", tokens(col("text")))
      // quality inline on the same scan (the dsirSelect convention)
      .withColumn("quality", round(
        lit(0.4) * least(size(col("wAll")) / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) -
            stopwordCount(col("wAll")).cast("double") / size(col("wAll"))) +
          lit(0.3) * (length(regexp_replace(col("text"), "[^a-z]", ""))
            .cast("double") / length(col("text"))), 6))
      .withColumn("qmicro", round(col("quality") * 1e6).cast("long"))
      .filter(col("qmicro") > 0)
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long")
    val sel = d.withColumn("key_micro", round(
        log((v.cast("double") + 0.5) / 4294967296.0) /
          (col("qmicro").cast("double") / 1000000.0) * 1e6).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        col("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id").asc)
      .limit(EsSampleN)
    // rank stamp over the post-limit ≤n-row frame, WindowExec-free
    Bounded.rankBounded(sel, Seq(-col("key_micro"), col("doc_id")), "rank")
  }

  /** DSIR feature-space / selection constants. 64 hash buckets keep the
    * bucket table a bounded codebook (the k-means / classifier
    * convention); the target set is the quality >= 0.75 half of the
    * corpus (the classifier's balanced-label threshold), and the top-100
    * selection is the deterministic argmax variant of the resample.
    */
  private[operators] val DsirBuckets = 64
  private[operators] val DsirTopN = 100
  private[operators] val DsirTargetQuality = 0.75

  /** DSIR-style data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * document by how much more likely its hashed-unigram features are
    * under the TARGET distribution (here: the high-quality half of the
    * corpus — in production, a trusted reference corpus) than under the
    * RAW corpus distribution, then keep the top-N. The per-doc importance
    * weight is the mean token log-ratio
    * `ln p_target(b) − ln p_raw(b)` over the doc's hashed feature
    * buckets, with add-1 smoothing so unseen buckets stay finite. The
    * published method resamples with Gumbel noise; the engine ships the
    * deterministic top-N variant (same ranking statistic) so the
    * selection is a pure function of the corpus — the sampling twist is
    * one `md5`-keyed perturbation away (the [[globalShuffle]] pattern)
    * if a caller wants it.
    *
    * Engine-exactness: each bucket's two log terms are rounded to integer
    * MICRO-nats independently (the text_lm_score convention — a fixed
    * one-division-one-log IEEE chain per term), the per-doc sum is an
    * integer fold over the token array, and the mean divides with `div`
    * (Spark `div`, DuckDB `//`, both truncate toward zero), so summation
    * order can never flip a rank.
    *
    * Scale shape: ONE pass over the corpus builds the (bucket, raw,
    * target) count table — 64 rows, collected as a bounded codebook and
    * re-broadcast as a literal map, exactly how the trained classifier
    * ships its weights. Scoring is then pure map-side expression work
    * (an `aggregate` fold over each doc's token array — no explode, no
    * per-doc shuffle) and the selection is a TakeOrdered top-N, never a
    * global sort. At 100 TB the bucket table is still 64 rows; the whole
    * operator is two scans, one 64-row exchange, and a top-N.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("wAll", tokens(col("text")))
      .withColumn("w", filter(col("wAll"), x => length(x) > 0))
      .filter(size(col("w")) > 0)
      // the quality label rides the SAME scan as the features (the
      // classifierFeatures convention — nothing joined)
      .withColumn("quality", round(
        lit(0.4) * least(size(col("wAll")) / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) -
            stopwordCount(col("wAll")).cast("double") / size(col("wAll"))) +
          lit(0.3) * (length(regexp_replace(col("text"), "[^a-z]", ""))
            .cast("double") / length(col("text"))), 6))
    val bucketExpr =
      "CAST(pmod(CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT), " +
        s"$DsirBuckets) AS INT)"
    // one corpus pass -> <=64-row (bucket, raw-count, target-count) table:
    // the bounded-codebook collect (classifier weights / k-means centroids
    // convention), never O(docs) driver state
    val stats = docs
      .select((col("quality") >= DsirTargetQuality).as("tgt"),
        explode(col("w")).as("tok"))
      .withColumn("b", expr(bucketExpr))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"))
      .collect()
    val rtot = stats.map(_.getAs[Long]("rc")).sum
    val ttot = stats.map(_.getAs[Long]("tc")).sum
    // round-half-away-from-zero, matching Spark round() and DuckDB
    // round() (math.round would round half toward +inf on negatives)
    def microLn(c: Long, tot: Long): Long =
      BigDecimal(math.log((c + 1).toDouble / (tot + DsirBuckets)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val lmap = stats.map { r =>
      val b = r.getAs[Int]("b")
      b -> (microLn(r.getAs[Long]("tc"), ttot) -
        microLn(r.getAs[Long]("rc"), rtot))
    }.toMap
    val lmapLit = typedLit(lmap)
    // map-side scoring: integer fold over the token array via the SAME
    // bucket hash; every observed bucket is in lmap by construction (the
    // coalesce is a belt for the empty-map empty-corpus case)
    val scored = docs.select(col("doc_id"), col("w"))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("ssum", aggregate(col("w"), lit(0L), (acc, tok) =>
        acc + coalesce(element_at(lmapLit,
          pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"),
            lit(DsirBuckets.toLong)).cast("int")), lit(0L))))
      .withColumn("score_micro", expr("ssum div n_tokens"))
    // rank over the post-limit <=N-row frame (Bounded.rankBounded,
    // WindowExec-free), never the corpus. score_micro is NULL for a
    // zero-token doc (`ssum div n_tokens` divides by zero), and the
    // negated rank key must reproduce the NULLS-LAST placement of the
    // `orderBy(desc)` above — hence the Long.MaxValue coalesce
    // (rankBounded's nullable-key contract, ADVICE r14)
    Bounded.rankBounded(
      scored
        .select(col("doc_id"), col("n_tokens"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(DsirTopN),
      Seq(coalesce(-col("score_micro"), lit(Long.MaxValue)),
        col("doc_id")), "rank")
  }

  /** DoReMi loop constants: 3 exponentiated-gradient rounds (the paper's
    * update, full-batch), 1% uniform smoothing in PPM so no domain's
    * weight can collapse to zero.
    */
  private[operators] val DoremiRounds = 3
  private[operators] val DoremiEpsPpm = 10000L

  /** Cap on the per-domain positive excess loss (micro-nats) BEFORE the
    * EG exponentiation: ln(1e6)·1e6, so the integer multiplier
    * round(exp(ex/1e6)·1e6) stays ≤ ~1e12 and `alpha·mult` ≤ ~1e18 —
    * inside Long for any alpha ≤ 1e6 ppm (ADVICE r13: with LmFloor=1e-9
    * an un-clamped excess can reach ~20.7e6 micro-nats, pushing the
    * product past Long.MaxValue where Scala silently wraps while the
    * DuckDB oracle raises a BIGINT overflow — a pathological corpus
    * would diverge the engines instead of failing loudly). The oracle
    * applies the identical least() clamp, so both engines saturate the
    * EG step at the same bound and stay bit-identical.
    */
  private[operators] val DoremiExClampMicro = 13815511L

  /** DoReMi-style domain-mixture optimization (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * NeurIPS 2023), engine-native: k rounds of the Group-DRO
    * exponentiated-gradient update `α ∝ α·exp(η·excess_k)` over the
    * per-domain (`source`) held-out loss, where the proxy model is the
    * α-WEIGHTED interpolated bigram LM ([[TextAnalysis.textLmHeldout]]'s
    * model with each training count carrying its domain's mixture weight
    * instead of 1) and excess is taken against the round's cross-domain
    * mean loss (the reference term of the paper's update; a separately
    * trained reference model would make the full-batch loop a fixpoint
    * at uniform). Domains whose held-out bigrams the current mixture
    * explains badly get upweighted; re-training under the new mixture
    * feeds the loss back, so the loop converges toward loss-balanced
    * weights — the DRO objective. Output per domain: train size, held-out
    * bigram count, nll under the uniform mixture, nll under the final
    * mixture, and the final weight in PPM.
    *
    * Engine-exactness: mixture weights are integer PPM; weighted counts
    * are exact long sums of those PPM values; each held-out bigram's
    * interpolated log-prob is the [[TextAnalysis.textLmHeldout]] fixed
    * IEEE chain rounded to integer micro-nats before the sum; the EG
    * multiplier is quantized to integer micro-units right after the one
    * `exp`, so the whole update (multiply, normalize, smooth) is integer
    * division — the oracle replays all rounds as a generated CTE chain
    * ([[graphKhop]]'s convention) and every rank and weight matches
    * bit-for-bit.
    *
    * Scale shape: Catalyst plans the α-INDEPENDENT input once. One scan
    * of `documents` tags every train token, train bigram, held-out bigram
    * and train doc, and one aggregate collapses them into a
    * VOCABULARY-sized count table (eagerly localCheckpointed). From it a
    * second plan pre-joins each distinct held-out bigram with sparse
    * per-domain count vectors for (w1, w2), w1 and w2, cached as an RDD.
    * The weighted counts factor through those vectors —
    * cu(tok) = Σ_src α(src)·count(tok, src) — so every round is ONE
    * `treeAggregate` of a 2·|domains| `Long` array over the cached rows,
    * with the current weights in the closure: no per-round DataFrame,
    * no per-round Catalyst. The driver holds only |domains|-sized
    * vectors (bounded-codebook convention, k-means); nothing O(corpus)
    * reaches it, and rounds are a fixed small constant.
    */
  def curDoremiMix(spark: SparkSession, dir: String,
      rounds: Int = DoremiRounds): DataFrame = {
    // content-addressed train/test split (the [[textVocabDrift]] md5
    // convention) — doc_id PARITY is correlated with `source` in the
    // fixture (ids are dealt round-robin across sources), which would
    // leave every train domain with zero held-out bigrams
    val half = conv(substring(md5(col("doc_id").cast("string")), 1, 1),
      16, 10).cast("int") < 8
    val w = col("w")
    def row(kind: Int, k1: Column, k2: Column, ntok: Column) =
      struct(lit(kind).as("kind"), k1.cast("string").as("k1"),
        k2.cast("string").as("k2"), ntok.as("ntok"))
    def bigrams(kind: Int) = transform(
      when(size(w) >= 2, sequence(lit(0), size(w) - 2))
        .otherwise(lit(Array.empty[Int])),
      i => row(kind, element_at(w, i + 1), element_at(w, i + 2), lit(0)))
    // kind 0 train token, 1 train bigram, 2 held-out bigram, 3 train doc
    val counts = t(spark, dir, "documents")
      .select(col("source"), half.as("tr"),
        coalesce(tokens(col("text")), lit(Array.empty[String])).as("w"))
      .select(col("source"), explode(
        when(col("tr"), concat(transform(w, x => row(0, x, lit(null), lit(0))),
            bigrams(1), array(row(3, lit(null), lit(null), size(w)))))
          .when(!col("tr"), bigrams(2))).as("r"))
      .groupBy(col("r.kind").as("kind"), col("source"),
        col("r.k1").as("k1"), col("r.k2").as("k2"))
      .agg(count(lit(1)).as("cn"), sum(col("r.ntok")).as("toks"))
      .localCheckpoint()
    var held: RDD[DoremiHeldOut] = null
    try {
      // |domains| rows: the mixture vector's index and each domain's
      // train doc and token counts, not corpus data
      val perDomain = counts.filter(col("kind") === 3)
        .select(col("source"), col("cn"), col("toks")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val domains = perDomain.map(_._1)
      val nDom = domains.length
      val schema = StructType(Seq(StructField("source", StringType),
        StructField("n_train_docs", LongType, nullable = false),
        StructField("n_bigrams", LongType, nullable = false),
        StructField("nll0_micro", LongType),
        StructField("nll_micro", LongType),
        StructField("alpha_ppm", LongType)))
      if (nDom == 0)
        return spark.createDataFrame(Seq.empty[Row].asJava, schema)
      val dIdx = domains.zipWithIndex.toMap
      val trainToks = perDomain.map(_._3)

      def vec(kind: Int, keys: String*): DataFrame =
        counts.filter(col("kind") === kind)
          .groupBy(keys.map(col): _*)
          .agg(collect_list(struct(col("source"), col("cn"))).as("v"))
      val uni = vec(0, "k1")
      held = counts.filter(col("kind") === 2)
        .select(col("source"), col("k1"), col("k2"), col("cn").as("n_occ"))
        .join(vec(1, "k1", "k2").withColumnRenamed("v", "cb"),
          Seq("k1", "k2"), "left_outer")
        .join(uni.withColumnRenamed("v", "u1"), Seq("k1"), "left_outer")
        .join(uni.select(col("k1").as("k2"), col("v").as("u2")), Seq("k2"),
          "left_outer")
        .select(col("source"), col("n_occ"), col("cb"), col("u1"), col("u2"))
        .rdd
        .flatMap { r =>
          def sparse(i: Int): DoremiCounts =
            if (r.isNullAt(i)) null
            else {
              val es = r.getSeq[Row](i)
              DoremiCounts(es.map(e => dIdx(e.getString(0))).toArray,
                es.map(_.getLong(1)).toArray)
            }
          dIdx.get(r.getString(0)).map(d =>
            DoremiHeldOut(d, r.getLong(1), sparse(2), sparse(3), sparse(4)))
        }
        .persist()

      // per-domain (n, llu) under `alpha`: ONE treeAggregate over the
      // cached held-out rows — [[TextAnalysis.textLmHeldout]]'s fixed
      // IEEE chain, each bigram's log-prob rounded to integer micro-nats
      def evalRound(alpha: Array[Long]): Array[Long] = {
        val tw = alpha.indices.map(d => alpha(d) * trainToks(d)).sum
        val (lam, floor) = (TextAnalysis.LmLambda, TextAnalysis.LmFloor)
        held.treeAggregate(new Array[Long](2 * nDom))({ (acc, h) =>
          val cb = if (h.cb == null) 0L else h.cb.dot(alpha)
          val c1 = if (h.u1 == null) 1L else h.u1.dot(alpha)
          val c2 = if (h.u2 == null) 0L else h.u2.dot(alpha)
          val p = math.max(lam * (cb.toDouble / c1) +
            (1 - lam) * (c2.toDouble / tw), floor)
          val llU = PairGraph.roundHalfUp(math.log(p) * 1e6, 0).toLong
          acc(h.d) += h.nOcc
          acc(nDom + h.d) += llU * h.nOcc
          acc
        }, { (a, b) => for (i <- a.indices) a(i) += b(i); a })
      }
      // domain -> nll_micro, for the domains with held-out bigrams
      def nll(acc: Array[Long]): Map[Int, Long] =
        (0 until nDom).filter(acc(_) > 0).map(d =>
          d -> (-PairGraph.roundHalfUp(
            acc(nDom + d).toDouble / acc(d), 0)).toLong).toMap

      var alpha = Array.fill(nDom)(1000000L / nDom)
      var nll0: Map[Int, Long] = Map.empty
      for (r <- 1 to rounds) {
        val cur = nll(evalRound(alpha))
        if (r == 1) nll0 = cur
        val ex: Array[Long] =
          if (cur.isEmpty) Array.fill(nDom)(0L)
          else {
            val m = cur.values.sum / cur.size
            Array.tabulate(nDom)(d => cur.get(d).map(_ - m).getOrElse(0L))
          }
        // EG multiplier quantized to integer micro-units straight after
        // the exp — everything downstream is exact integer division. The
        // positive excess is clamped at DoremiExClampMicro first so
        // alpha·mult cannot wrap Long (the oracle mirrors the clamp).
        val raw = Array.tabulate(nDom) { d =>
          val exd = math.min(ex(d), DoremiExClampMicro)
          val mult = BigDecimal(math.exp(exd.toDouble / 1e6) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          alpha(d) * mult / 1000000L
        }
        val s = raw.sum
        alpha = raw.map(v => (v * 1000000L / s) * (1000000L - DoremiEpsPpm) /
          1000000L + DoremiEpsPpm / nDom)
      }
      val fin = evalRound(alpha)
      val nllF = nll(fin)
      // |domains| rows, ordered as Spark orders `source`
      val out = domains.indices
        .sortBy(d => UTF8String.fromString(domains(d)))
        .map { d =>
          def opt(v: Option[Long]): java.lang.Long = v.map(Long.box).orNull
          Row(domains(d), perDomain(d)._2, fin(d), opt(nll0.get(d)),
            opt(nllF.get(d)), alpha(d))
        }
      spark.createDataFrame(out.asJava, schema)
    } finally {
      if (held != null) held.unpersist()
      freeCheckpoint(counts)
    }
  }

  /** The [[curDoremiMix]] oracle: the R-round EG loop unrolled as a
    * generated CTE chain (one weighted-LM evaluation block per round
    * plus the final readout — [[graphKhop]]'s generated-oracle
    * convention), arithmetic mirrored operation-for-operation.
    */
  private[operators] def doremiOracleSql(rounds: Int): String = {
    val lam = TextAnalysis.LmLambda
    val oneMinusLam = 1 - TextAnalysis.LmLambda
    val floor = TextAnalysis.LmFloor
    // every per-round CTE is MATERIALIZED: each is referenced 2-4 times
    // downstream, and DuckDB's default CTE inlining re-evaluates the
    // whole upstream chain per reference — exponential across rounds
    val evalBlocks = (1 to rounds + 1).map { r => s"""
      uw$r AS MATERIALIZED (SELECT t.tok, CAST(sum(a.ap) AS BIGINT) AS cu
               FROM trt t JOIN a$r a USING (source) GROUP BY 1),
      tw$r AS (SELECT CAST(sum(cu) AS BIGINT) AS t_w FROM uw$r),
      cw$r AS MATERIALIZED (SELECT b.w1, b.w2,
                 CAST(sum(a.ap) AS BIGINT) AS cb
               FROM trb b JOIN a$r a USING (source) GROUP BY 1, 2),
      nl$r AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(-round(CAST(sum(CAST(round(ln(p) * 1e6) AS BIGINT))
                      AS BIGINT) / CAST(count(*) AS DOUBLE)) AS BIGINT)
                   AS nll
               FROM (
                 SELECT tbg.source, greatest(
                     $lam * (coalesce(cw.cb, 0)::DOUBLE
                       / coalesce(u1.cu, 1))
                   + $oneMinusLam * (coalesce(u2.cu, 0)::DOUBLE / tw.t_w),
                     $floor) AS p
                 FROM teb tbg
                 LEFT JOIN cw$r cw ON tbg.w1 = cw.w1 AND tbg.w2 = cw.w2
                 LEFT JOIN uw$r u1 ON tbg.w1 = u1.tok
                 LEFT JOIN uw$r u2 ON tbg.w2 = u2.tok
                 CROSS JOIN tw$r tw) sc
               JOIN doms USING (source) GROUP BY source)"""
    }
    val updateBlocks = (1 to rounds).map { r => s"""
      m$r AS (SELECT CASE WHEN count(*) > 0
                THEN CAST(sum(nll) AS BIGINT) // CAST(count(*) AS BIGINT)
                END AS m FROM nl$r),
      rw$r AS MATERIALIZED (SELECT d.source,
                 (a.ap * CAST(round(exp(least(coalesce(nl.nll - m.m, 0),
                    $DoremiExClampMicro)
                    / 1000000.0) * 1e6) AS BIGINT)) // 1000000 AS rawv
               FROM doms d JOIN a$r a USING (source)
               LEFT JOIN nl$r nl USING (source)
               CROSS JOIN m$r m),
      a${r + 1} AS MATERIALIZED (SELECT source,
                 ((rawv * 1000000)
                    // (SELECT CAST(sum(rawv) AS BIGINT) FROM rw$r))
                   * ${1000000 - DoremiEpsPpm} // 1000000
                   + $DoremiEpsPpm // (SELECT k FROM k) AS ap
               FROM rw$r)"""
    }
    val f = rounds + 1
    s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id, source, string_split(text, ' ') AS w,
          (strpos('0123456789abcdef',
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 8 AS in_tr
        FROM documents),
      train AS MATERIALIZED (SELECT * FROM tok WHERE in_tr),
      test AS (SELECT * FROM tok WHERE NOT in_tr),
      doms AS MATERIALIZED (SELECT DISTINCT source FROM train),
      k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM doms),
      trt AS MATERIALIZED (SELECT source, unnest(w) AS tok FROM train),
      trb AS MATERIALIZED (
        SELECT source, w[i] AS w1, w[i + 1] AS w2
        FROM train, UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
      teb AS MATERIALIZED (
        SELECT source, w[i] AS w1, w[i + 1] AS w2
        FROM test, UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
      a1 AS (SELECT source, (SELECT 1000000 // k FROM k) AS ap FROM doms),
      ${(evalBlocks.take(rounds)
          .zip(updateBlocks).map { case (e, u) => e + "," + u } :+
          evalBlocks(rounds)).mkString(",")},
      nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs
             FROM train GROUP BY 1)
      SELECT nd.source, nd.n_train_docs,
        coalesce(f.n, 0) AS n_bigrams,
        n1.nll AS nll0_micro,
        f.nll AS nll_micro,
        a.ap AS alpha_ppm
      FROM nd
      LEFT JOIN nl1 n1 USING (source)
      LEFT JOIN nl$f f USING (source)
      JOIN a$f a USING (source)
      ORDER BY source"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_keep_best" -> (keepBestPerCluster _),
    "cur_split_leakfree" -> (splitLeakfree _),
    "cur_curriculum" -> (curriculum _),
    "cur_temperature_mix" -> (temperatureMix _),
    "cur_token_budget" -> (tokenBudgetReport _),
    "cur_token_budget_bpe" -> (tokenBudgetReportBpe _),
    "cur_epoch_plan" -> (epochPlan _),
    "cur_global_shuffle" -> (globalShuffle _),
    "cur_top_quality" -> (topQualityPerSource _),
    "cur_filter_sweep" -> (curFilterSweep _),
    "cur_data_card" -> (corpusDataCard _),
    "cur_shard_plan" -> (shardPlan _),
    "cur_dedup_clusters" -> (dedupClusters _),
    "graph_pagerank" -> ((s, d) => graphPagerank(s, d)),
    "graph_triangles" -> (graphTriangles _),
    "graph_label_prop" -> ((s, d) => graphLabelProp(s, d)),
    "graph_khop" -> ((s, d) => graphKhop(s, d)),
    "graph_kcore" -> ((s, d) => graphKcore(s, d)),
    "cur_soft_dedup" -> (softDedup _),
    "cur_sample_stratified" -> (sampleStratified _),
    "cur_decontaminate" -> (decontaminate _),
    "cur_contamination_report" -> ((s, d) => contaminationReport(s, d)),
    "cur_corpus_curate" -> (corpusCurate _),
    "cur_pack_sequences" -> (packCurated _),
    "cur_pack_assemble" -> (assemblePacks _),
    "cur_mixture_sample" -> ((s, d) => mixtureSample(s, d)),
    "cur_sample_topn" -> ((s, d) => sampleTopNPerSource(s, d)),
    "cur_sample_weighted" -> (sampleWeighted _),
    "cur_dsir_select" -> (dsirSelect _),
    "cur_doremi_mix" -> ((s, d) => curDoremiMix(s, d)),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "cur_sample_es" -> (sampleEsTopN _),
  )

  /** The curation funnel as DuckDB CTEs ending in `curated(doc_id, lang,
    * source, quality)` — shared by the curate and shard-plan oracles.
    */
  private val curateCtes = s"""${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      labels AS (SELECT node AS doc_id, min(label) AS cluster_id
                 FROM walk GROUP BY node),
      ${CorpusPipeline.qualityCte},
      evs AS (SELECT DISTINCT s.s FROM sh s JOIN documents d
                ON s.doc_id = d.doc_id WHERE d.source = '$EvalSource'),
      tr AS (SELECT s.doc_id, s.s FROM sh s JOIN documents d
               ON s.doc_id = d.doc_id WHERE d.source <> '$EvalSource'),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1),
      hit AS (SELECT t.doc_id, count(*) AS n_shared
              FROM tr t JOIN evs e ON t.s = e.s GROUP BY 1),
      contaminated AS (SELECT h.doc_id FROM hit h JOIN cnt c
                         ON h.doc_id = c.doc_id
                       WHERE CAST(h.n_shared AS DOUBLE) / c.n_sh >= $DecontamTau),
      curated AS (
        SELECT d.doc_id, d.lang, d.source, q.quality
        FROM documents d
        JOIN qual q ON d.doc_id = q.doc_id
        JOIN labels l ON d.doc_id = l.doc_id
        WHERE d.source <> '$EvalSource'
          AND (strpos('0123456789abcdef',
                 substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef',
                 substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1)
            < CASE WHEN d.lang = 'en' THEN 128 ELSE 64 END
          AND q.quality >= ${CorpusPipeline.MinQuality}
          AND l.cluster_id = d.doc_id
          AND NOT EXISTS (SELECT 1 FROM contaminated c
                          WHERE c.doc_id = d.doc_id))"""

  private val epochHashByte =
    """((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)
         || ':' || CAST(epoch AS VARCHAR)), 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)
         || ':' || CAST(epoch AS VARCHAR)), 2, 1)) - 1))"""

  val oracle: Map[String, String] = Map(
    "cur_sample_es" -> s"""
      WITH ${CorpusPipeline.qualityCte},
      s AS (SELECT d.doc_id, d.lang, d.source, q.quality,
              CAST(round(q.quality * 1e6) AS BIGINT) AS qmicro,
              CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS v
            FROM documents d JOIN qual q USING (doc_id)),
      k AS (SELECT doc_id, lang, source, quality,
              CAST(round(ln((v + 0.5) / 4294967296.0)
                / (qmicro / 1000000.0) * 1e6) AS BIGINT) AS key_micro
            FROM s WHERE qmicro > 0),
      top AS (SELECT * FROM k
              ORDER BY key_micro DESC, doc_id ASC LIMIT $EsSampleN)
      SELECT doc_id, lang, source, quality, key_micro,
        CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC)
          AS INT) AS rank
      FROM top""",
    "dedup_cluster_stats" -> s"""
      WITH RECURSIVE ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      lab AS (SELECT node AS doc_id, min(label) AS cid
              FROM walk GROUP BY node),
      cs AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
             FROM lab GROUP BY 1),
      tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_total FROM cs)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(cluster_size) AS BIGINT) AS n_docs,
        (CAST(sum(cluster_size) AS BIGINT) * 1000000)
          // (SELECT n_total FROM tot) AS docs_ppm
      FROM cs GROUP BY 1 ORDER BY 1""",
    "cur_doremi_mix" -> doremiOracleSql(DoremiRounds),
    "cur_dsir_select" -> s"""
      WITH tk AS MATERIALIZED (
        SELECT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE tok <> ''),
      ${CorpusPipeline.qualityCte},
      bk AS MATERIALIZED (
        SELECT t.doc_id, q.quality >= $DsirTargetQuality AS tgt,
          CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               % $DsirBuckets AS INT) AS b
        FROM tk t JOIN qual q ON t.doc_id = q.doc_id),
      st AS (SELECT b, CAST(count(*) AS BIGINT) AS rc,
               CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
             FROM bk GROUP BY 1),
      tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
                     CAST(sum(tc) AS BIGINT) AS ttot FROM st),
      lw AS (SELECT b,
               CAST(round(ln((tc + 1) / CAST(ttot + $DsirBuckets AS DOUBLE))
                          * 1e6) AS BIGINT)
             - CAST(round(ln((rc + 1) / CAST(rtot + $DsirBuckets AS DOUBLE))
                          * 1e6) AS BIGINT) AS lmicro
             FROM st, tot),
      sc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
               CAST(sum(lmicro) AS BIGINT) AS ssum
             FROM bk JOIN lw USING (b) GROUP BY 1),
      top AS (SELECT doc_id, n_tokens, ssum // n_tokens AS score_micro
              FROM sc ORDER BY score_micro DESC, doc_id ASC LIMIT $DsirTopN)
      SELECT doc_id, n_tokens, score_micro,
        CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
             AS INT) AS rank
      FROM top""",
    "cur_temperature_mix" -> s"""
      WITH per_source AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      uu AS (SELECT *, CAST(round(pow(CAST(n_tokens AS DOUBLE),
               $TemperatureTau) * 1e6) AS BIGINT) AS u
             FROM per_source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
                     CAST(sum(u) AS BIGINT) AS t_u FROM uu)
      SELECT source, n_docs, n_tokens,
        round(CAST(n_tokens AS DOUBLE) / t_tokens, 6) AS raw_share,
        round(CAST(u AS DOUBLE) / t_u, 6) AS temp_share,
        CAST((CAST(u AS HUGEINT) * t_tokens) // t_u AS BIGINT)
          AS target_tokens,
        round(CAST(CAST((CAST(u AS HUGEINT) * t_tokens) // t_u AS BIGINT)
          AS DOUBLE) / n_tokens, 4) AS repeat_factor
      FROM uu, tot""",
    "cur_keep_best" -> s"""
      WITH RECURSIVE ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      labels AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
                 FROM walk GROUP BY node),
      ${CorpusPipeline.qualityCte},
      j AS (SELECT l.doc_id, l.cluster_id, q.quality
            FROM labels l JOIN qual q ON l.doc_id = q.doc_id),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY quality DESC, doc_id ASC) AS rn,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM j)
      SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
             doc_id AS kept_doc_id, quality AS kept_quality,
             CAST(cluster_size - 1 AS BIGINT) AS n_dropped
      FROM r WHERE rn = 1 AND cluster_size > 1""",
    "cur_curriculum" -> s"""
      WITH ${CorpusPipeline.qualityCte},
      q2 AS (SELECT q.doc_id, q.quality,
               len(string_split(d.text, ' ')) AS n_tokens
             FROM qual q JOIN documents d ON q.doc_id = d.doc_id),
      cuts AS (SELECT quantile_cont(quality, 0.25) AS c1,
                 quantile_cont(quality, 0.5) AS c2,
                 quantile_cont(quality, 0.75) AS c3 FROM q2),
      p AS (SELECT q2.*,
              1 + CAST(quality > c1 AS INT) + CAST(quality > c2 AS INT)
                + CAST(quality > c3 AS INT) AS phase
            FROM q2, cuts)
      SELECT phase, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        min(quality) AS min_quality, max(quality) AS max_quality,
        CAST(round(CAST(sum(CAST(round(quality * 1e6) AS BIGINT)) AS BIGINT)
          / CAST(count(*) AS DOUBLE)) AS BIGINT) / 1e6 AS avg_quality
      FROM p GROUP BY 1""",
    "cur_token_budget_bpe" -> s"""${TextAnalysis.bpeEncodeCtes(
        TextAnalysis.BpeMerges)},
      per_source AS (
        SELECT d.source, count(*) AS n_docs,
          CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_tokens
        FROM enc e JOIN documents d USING (doc_id) GROUP BY 1),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens
              FROM per_source),
      tgt AS (
        SELECT source, n_docs, n_tokens, t_tokens,
          CASE WHEN source IN (${EpochHighSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochHighBp
               WHEN source IN (${EpochMidSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochMidBp
               ELSE $EpochTailBp END AS target_bp
        FROM per_source, tot)
      SELECT source, n_docs, n_tokens,
        round(CAST(n_tokens AS DOUBLE) / t_tokens, 6) AS actual_share,
        target_bp,
        (target_bp * t_tokens) // $TotalBp AS target_tokens,
        (target_bp * t_tokens) // $TotalBp - n_tokens AS deficit_tokens,
        round(CAST((target_bp * t_tokens) // $TotalBp AS DOUBLE) / n_tokens,
          4) AS repeat_factor
      FROM tgt""",
    "cur_token_budget" -> s"""
      WITH per_source AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens
              FROM per_source),
      tgt AS (
        SELECT source, n_docs, n_tokens, t_tokens,
          CASE WHEN source IN (${EpochHighSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochHighBp
               WHEN source IN (${EpochMidSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochMidBp
               ELSE $EpochTailBp END AS target_bp
        FROM per_source, tot)
      SELECT source, n_docs, n_tokens,
        round(CAST(n_tokens AS DOUBLE) / t_tokens, 6) AS actual_share,
        target_bp,
        (target_bp * t_tokens) // $TotalBp AS target_tokens,
        (target_bp * t_tokens) // $TotalBp - n_tokens AS deficit_tokens,
        round(CAST((target_bp * t_tokens) // $TotalBp AS DOUBLE) / n_tokens,
          4) AS repeat_factor
      FROM tgt""",
    "cur_epoch_plan" -> s"""
      WITH planned AS (
        SELECT doc_id, source,
          CASE WHEN source IN (${EpochHighSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochTierHigh
               WHEN source IN (${EpochMidSrcs.map("'" + _ + "'").mkString(",")})
                 THEN $EpochTierMid
               ELSE $EpochTierBase END AS epochs_target
        FROM documents),
      ex AS (
        SELECT doc_id, source, epochs_target,
          CAST(unnest(generate_series(1, CAST(ceil(epochs_target) AS INT)))
            AS INT) AS epoch
        FROM planned)
      SELECT doc_id, source, epochs_target, epoch
      FROM ex
      WHERE epoch <= floor(epochs_target)
         OR $epochHashByte / 256.0
            < epochs_target - floor(epochs_target)""",
    "cur_global_shuffle" -> s"""
      WITH keyed AS (SELECT doc_id,
               md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS skey
             FROM documents),
      sharded AS (SELECT doc_id, skey,
               CAST(((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 4096 +
                     (instr('0123456789abcdef', substr(skey, 2, 1)) - 1) * 256 +
                     (instr('0123456789abcdef', substr(skey, 3, 1)) - 1) * 16 +
                     (instr('0123456789abcdef', substr(skey, 4, 1)) - 1)) % $ShardCount
                 AS INT) AS shard
             FROM keyed)
      SELECT doc_id, shard,
        CAST(row_number() OVER (PARTITION BY shard
          ORDER BY skey, doc_id) AS INT) AS pos, skey
      FROM sharded""",
    "cur_filter_sweep" -> s"""
      WITH ${CorpusPipeline.qualityCte},
      tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
             FROM documents),
      b AS (SELECT least(CAST(floor(q.quality * 10) AS INT), 9) AS bin,
              count(*) AS nd, CAST(sum(tk.n_tokens) AS BIGINT) AS nt
            FROM qual q JOIN tk USING (doc_id) GROUP BY 1),
      sp AS (SELECT unnest(generate_series(0, 9)) AS bin),
      f AS (SELECT sp.bin, coalesce(b.nd, 0) AS nd, coalesce(b.nt, 0) AS nt
            FROM sp LEFT JOIN b USING (bin)),
      c AS (SELECT bin,
              CAST(sum(nd) OVER (ORDER BY bin DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_docs_surviving,
              CAST(sum(nt) OVER (ORDER BY bin DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_tokens_surviving,
              CAST(sum(nd) OVER () AS BIGINT) AS td,
              CAST(sum(nt) OVER () AS BIGINT) AS tt
            FROM f)
      SELECT round(bin / 10.0, 1) AS threshold,
        n_docs_surviving, n_tokens_surviving,
        round(CAST(n_docs_surviving AS DOUBLE) / td, 6) AS doc_share,
        round(CAST(n_tokens_surviving AS DOUBLE) / tt, 6) AS token_share
      FROM c""",
    "cur_top_quality" -> s"""
      WITH ${CorpusPipeline.qualityCte}
      SELECT doc_id, source, quality FROM (
        SELECT d.doc_id, d.source, q.quality,
          row_number() OVER (PARTITION BY d.source
            ORDER BY q.quality DESC, d.doc_id ASC) AS rn
        FROM documents d JOIN qual q ON d.doc_id = q.doc_id)
      WHERE rn <= $TopQualityK""",
    "cur_shard_plan" -> s"""
      WITH RECURSIVE $curateCtes,
      assigned AS (
        SELECT c.doc_id,
          ((strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 4, 1)) - 1)) % $ShardCount
            AS shard
        FROM curated c)
      SELECT CAST(a.shard AS INT) AS shard,
             count(*) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS n_bytes
      FROM assigned a JOIN documents d ON a.doc_id = d.doc_id
      GROUP BY 1""",
    "graph_pagerank" -> {
      val steps = (1 to PagerankIters).map { i =>
        s"""r$i AS (SELECT e.dst AS node,
               round(${1.0 - PagerankDamping}
                 + $PagerankDamping * sum(r.rank / d.deg), 9) AS rank
             FROM edges e JOIN r${i - 1} r ON e.src = r.node
                          JOIN deg d ON e.src = d.node GROUP BY 1)"""
      }.mkString(",\n      ")
      s"""
      WITH ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
      r0 AS (SELECT node, 1.0 AS rank FROM deg),
      $steps
      SELECT r$PagerankIters.node AS doc_id,
             round(r$PagerankIters.rank, 6) AS pagerank,
             CAST(d.deg AS BIGINT) AS degree
      FROM r$PagerankIters JOIN deg d ON r$PagerankIters.node = d.node
      ORDER BY pagerank DESC, doc_id ASC"""
    },
    "graph_triangles" -> s"""
      WITH ${Dedup.minhashPairsCte},
      und AS (SELECT da AS src, db AS dst FROM pairs
              UNION ALL SELECT db, da FROM pairs),
      deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
      oe AS (SELECT u.src, u.dst, dd.deg AS dd
             FROM und u JOIN deg ds ON u.src = ds.node
                        JOIN deg dd ON u.dst = dd.node
             WHERE (ds.deg, u.src) < (dd.deg, u.dst)),
      tri AS (SELECT e1.src AS ta, e1.dst AS tb, e2.dst AS tc
              FROM oe e1 JOIN oe e2 ON e1.src = e2.src
                AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
              JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      pn AS (SELECT node, count(*) AS n_tri FROM (
               SELECT ta AS node FROM tri
               UNION ALL SELECT tb FROM tri
               UNION ALL SELECT tc FROM tri)
             GROUP BY 1)
      SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS degree,
        CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_triangles,
        CASE WHEN d.deg >= 2
          THEN round(2.0 * coalesce(p.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
          ELSE 0.0 END AS clustering_coeff
      FROM deg d LEFT JOIN pn p ON d.node = p.node
      ORDER BY doc_id""",
    "graph_label_prop" -> {
      val rounds = (1 to LabelPropIters).map { i =>
        s"""l$i AS (SELECT node, label FROM (
               SELECT e.dst AS node, r.label, count(*) AS c,
                 row_number() OVER (PARTITION BY e.dst
                   ORDER BY count(*) DESC, r.label ASC) AS rn
               FROM edges e JOIN l${i - 1} r ON e.src = r.node
               GROUP BY e.dst, r.label)
             WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      $rounds,
      sizes AS (SELECT label, count(*) AS community_size
                FROM l$LabelPropIters GROUP BY 1)
      SELECT l.node AS doc_id, l.label AS community, s.community_size
      FROM l$LabelPropIters l JOIN sizes s ON l.label = s.label
      ORDER BY community, doc_id"""
    },
    "cur_soft_dedup" -> s"""
      WITH RECURSIVE ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      labels AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT)
                   AS cluster_id
                 FROM walk GROUP BY node),
      sz AS (SELECT cluster_id, count(*) AS c FROM labels GROUP BY 1),
      d AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM documents),
      j AS (SELECT d.source, d.n_tok,
              CAST(1000000 // sz.c AS BIGINT) AS wt
            FROM d JOIN labels USING (doc_id) JOIN sz USING (cluster_id))
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        CAST(sum(wt) AS BIGINT) AS eff_docs_micro,
        CAST(sum(n_tok * wt) AS BIGINT) AS eff_tokens_micro,
        round(CAST(sum(n_tok * wt) AS DOUBLE)
              / (CAST(sum(n_tok) AS DOUBLE) * 1000000.0), 6) AS keep_ratio
      FROM j GROUP BY source ORDER BY source""",
    "graph_kcore" -> {
      // unrolled peel rounds generated from the shared constants: a_i is
      // the alive set after peel i (degree among a_{i-1} survivors >= k;
      // isolated nodes drop out of the degree frame and are peeled)
      val rounds = (1 to KCoreRounds).map { i =>
        s"""d$i AS (SELECT e.src AS node, count(*) AS d
             FROM edges e JOIN a${i - 1} x ON e.src = x.node
                          JOIN a${i - 1} y ON e.dst = y.node
             GROUP BY 1),
           a$i AS (SELECT node FROM d$i WHERE d >= $KCoreK)"""
      }.mkString(",\n      ")
      val peelCase = (1 to KCoreRounds).map { i =>
        s"WHEN g.node NOT IN (SELECT node FROM a$i) THEN $i"
      }.mkString(" ")
      s"""
      WITH ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      a0 AS (SELECT DISTINCT src AS node FROM edges),
      deg0 AS (SELECT src AS node, count(*) AS degree FROM edges
               GROUP BY 1),
      $rounds
      SELECT g.node AS doc_id, CAST(g.degree AS BIGINT) AS degree,
        CAST(CASE $peelCase ELSE 0 END AS INT) AS peel_round
      FROM deg0 g ORDER BY doc_id"""
    },
    "graph_khop" -> {
      // unrolled frontier BFS: level i = neighbors of level i-1 not yet
      // visited; min-per-node over the union replays the visited-set
      // anti-join (a node's first discovery level is its min hop)
      val levels = (1 to KhopIters).map { i =>
        s"""d$i AS (SELECT node, min(hop) AS hop FROM (
               SELECT node, hop FROM d${i - 1}
               UNION ALL
               SELECT e.dst, p.hop + 1 FROM d${i - 1} p
               JOIN edges e ON e.src = p.node)
             GROUP BY node)"""
      }.mkString(",\n      ")
      s"""
      WITH ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      d0 AS (SELECT node, 0 AS hop FROM (
               SELECT DISTINCT src AS node FROM edges
               ORDER BY node ASC LIMIT $KhopSeeds)),
      $levels
      SELECT node AS doc_id, CAST(hop AS INT) AS hop FROM d$KhopIters
      ORDER BY hop, doc_id"""
    },
    "cur_split_leakfree" -> s"""
      WITH RECURSIVE ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      labels AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT)
                   AS cluster_id
                 FROM walk GROUP BY node),
      s AS (SELECT doc_id, cluster_id,
              CASE WHEN hv < 204 THEN 'train'
                   WHEN hv < 230 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT *,
                    (strpos('0123456789abcdef', substr(
                       md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(
                       md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) AS hv
                  FROM labels))
      SELECT split, count(*) AS n_docs,
             count(DISTINCT cluster_id) AS n_clusters
      FROM s GROUP BY 1""",
    "cur_dedup_clusters" -> s"""
      WITH RECURSIVE ${Dedup.minhashPairsCte},
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
      SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id,
             CAST(count(*) OVER (PARTITION BY min(label)) AS BIGINT)
               AS cluster_size
      FROM walk GROUP BY node""",
    "cur_sample_stratified" -> """
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE (strpos('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
          < CASE WHEN lang = 'en' THEN 128 ELSE 64 END""",
    "cur_data_card" -> s"""
      WITH ${Dedup.minhashPairsCte},
      ${CorpusPipeline.qualityCte.trim},
      dup AS (SELECT DISTINCT doc_id FROM
                (SELECT da AS doc_id FROM pairs
                 UNION ALL SELECT db AS doc_id FROM pairs))
      SELECT d.source, count(*) AS n_docs,
        CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
        round(avg(q.quality), 6) AS avg_quality,
        CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
        CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dup_docs
      FROM documents d
      JOIN qual q ON d.doc_id = q.doc_id
      LEFT JOIN dup ON d.doc_id = dup.doc_id
      GROUP BY 1""",
    "cur_sample_weighted" -> s"""
      WITH ${CorpusPipeline.qualityCte}
      SELECT d.doc_id, d.lang, d.source, q.quality
      FROM documents d JOIN qual q ON d.doc_id = q.doc_id
      WHERE ((strpos('0123456789abcdef',
                substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1))::DOUBLE
            / 256.0 < q.quality""",
    "cur_corpus_curate" -> s"""
      WITH RECURSIVE $curateCtes
      SELECT doc_id, lang, source, quality FROM curated""",
    // the packing recursion advances every shard by one doc per step
    // (linear recursion joined on rn+1), replaying the Spark fold exactly
    "cur_pack_sequences" -> s"""
      WITH RECURSIVE $curateCtes,
      assigned AS (
        SELECT c.doc_id,
          ((strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 4, 1)) - 1)) % $ShardCount
            AS shard
        FROM curated c),
      toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
               FROM documents),
      ordered AS (
        SELECT a.shard, a.doc_id, t.n_tokens,
          row_number() OVER (PARTITION BY a.shard ORDER BY a.doc_id) AS rn
        FROM assigned a JOIN toks t ON a.doc_id = t.doc_id),
      pack(shard, rn, doc_id, n_tokens, pack_id, pack_pos, acc) AS (
        SELECT shard, rn, doc_id, n_tokens, 0, 0, n_tokens
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.pack_id ELSE p.pack_id + 1 END,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.pack_pos + 1 ELSE 0 END,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.acc + r.n_tokens ELSE r.n_tokens END
        FROM pack p JOIN ordered r
          ON r.shard = p.shard AND r.rn = p.rn + 1)
      SELECT doc_id, CAST(shard AS INT) AS shard,
             CAST(pack_id AS INT) AS pack_id,
             CAST(pack_pos AS INT) AS pack_pos,
             CAST(n_tokens AS INT) AS n_tokens
      FROM pack""",
    "cur_pack_assemble" -> s"""
      WITH RECURSIVE $curateCtes,
      assigned AS (
        SELECT c.doc_id,
          ((strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
              substr(md5(CAST(c.doc_id AS VARCHAR)), 4, 1)) - 1)) % $ShardCount
            AS shard
        FROM curated c),
      toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
               FROM documents),
      ordered AS (
        SELECT a.shard, a.doc_id, t.n_tokens,
          row_number() OVER (PARTITION BY a.shard ORDER BY a.doc_id) AS rn
        FROM assigned a JOIN toks t ON a.doc_id = t.doc_id),
      pack(shard, rn, doc_id, n_tokens, pack_id, pack_pos, acc) AS (
        SELECT shard, rn, doc_id, n_tokens, 0, 0, n_tokens
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.pack_id ELSE p.pack_id + 1 END,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.pack_pos + 1 ELSE 0 END,
          CASE WHEN p.acc + r.n_tokens <= $PackBudget
               THEN p.acc + r.n_tokens ELSE r.n_tokens END
        FROM pack p JOIN ordered r
          ON r.shard = p.shard AND r.rn = p.rn + 1)
      SELECT CAST(p.shard AS INT) AS shard, CAST(p.pack_id AS INT) AS pack_id,
             count(*) AS n_docs,
             CAST(sum(p.n_tokens) AS BIGINT) AS pack_tokens,
             string_agg(d.text, '$PackSep' ORDER BY p.pack_pos) AS text
      FROM pack p JOIN documents d ON p.doc_id = d.doc_id
      GROUP BY 1, 2""",
    "cur_sample_topn" -> """
      WITH hv AS (
        SELECT doc_id, source,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM documents)
      SELECT doc_id, source, hv FROM (
        SELECT doc_id, source, hv,
          row_number() OVER (PARTITION BY source
            ORDER BY hv ASC, doc_id ASC) AS rn
        FROM hv)
      WHERE rn <= 10""",
    "cur_mixture_sample" -> s"""
      WITH toks AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS hv
        FROM documents),
      run AS (
        SELECT doc_id, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id)
            AS cum_tokens
        FROM toks)
      SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
             CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM run WHERE cum_tokens <= $MixtureBudget""",
    "cur_contamination_report" -> s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS w
                   FROM documents),
      shn AS (SELECT doc_id, source,
                CASE WHEN len(w) >= 3
                  THEN list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS sh
              FROM tok),
      sh AS (SELECT DISTINCT doc_id, source, unnest(sh) AS s FROM shn),
      ev AS (SELECT doc_id, s FROM sh WHERE source = '$EvalSource'),
      evs AS (SELECT DISTINCT s FROM ev),
      lk AS (SELECT DISTINCT t.s FROM sh t JOIN evs e ON t.s = e.s
             WHERE t.source <> '$EvalSource'),
      tot AS (SELECT doc_id, count(*) AS n_sh FROM ev GROUP BY 1),
      hit AS (SELECT ev.doc_id, count(*) AS n_leaked
              FROM ev JOIN lk ON ev.s = lk.s GROUP BY 1)
      SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
        CAST(coalesce(h.n_leaked, 0) AS BIGINT) AS n_leaked,
        (CAST(coalesce(h.n_leaked, 0) AS BIGINT) * 1000000)
          // CAST(t.n_sh AS BIGINT) AS leak_ppm,
        (CAST(coalesce(h.n_leaked, 0) AS BIGINT) * 1000000)
          // CAST(t.n_sh AS BIGINT) >= $ContamLeakPpm AS compromised
      FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
      ORDER BY t.doc_id""",
    "cur_decontaminate" -> s"""
      WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS w
                   FROM documents),
      shn AS (SELECT doc_id, source,
                CASE WHEN len(w) >= 3
                  THEN list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS sh
              FROM tok),
      sh AS (SELECT DISTINCT doc_id, source, unnest(sh) AS s FROM shn),
      evs AS (SELECT DISTINCT s FROM sh WHERE source = '$EvalSource'),
      tr  AS (SELECT doc_id, s FROM sh WHERE source <> '$EvalSource'),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1),
      hit AS (SELECT t.doc_id, count(*) AS n_shared
              FROM tr t JOIN evs e ON t.s = e.s GROUP BY 1)
      SELECT h.doc_id, CAST(h.n_shared AS BIGINT) AS n_shared,
             round(CAST(h.n_shared AS DOUBLE) / c.n_sh, 6) AS overlap
      FROM hit h JOIN cnt c ON h.doc_id = c.doc_id
      WHERE CAST(h.n_shared AS DOUBLE) / c.n_sh >= $DecontamTau""",
  )
}
