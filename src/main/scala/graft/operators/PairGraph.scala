package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.SessionArtifacts

/** The undirected near-dup pair graph the round loops in [[Curation]]
  * iterate over, and the persisted per-round state they keep on it.
  *
  * Catalyst plans the loop-invariant input once: [[edges]] is both
  * directions of every memoized [[Dedup.dedupMinhashLsh]] pair (no
  * re-pairing), hash-partitioned by `src` and persisted. It stays an
  * EDGE LIST, never per-node adjacency arrays, so a hot-bucket anchor's
  * star is many small records instead of one giant one. Per-node state
  * is keyed by node on the same partitioner, so a round's message pass
  * ([[messages]]) zips state with the edges it owns partition by
  * partition (no join shuffle), and the `reduceByKey` that folds the
  * messages lands back on that partitioner for the next round. A round
  * is one small RDD job: no DataFrame is analysed, optimised or planned
  * inside a loop.
  *
  * Every RDD persisted through [[keep]] is unpersisted by [[run]] when
  * the loop returns or throws, so a loop leaves no cached blocks behind
  * except its eager result, which `GraftSession.release` frees if the
  * caller has not.
  */
private[operators] final class PairGraph private (spark: SparkSession,
    dir: String) {
  val part = new HashPartitioner(spark.sparkContext.defaultParallelism)
  private val live = mutable.Buffer.empty[RDD[_]]

  /** Persist `rdd` until the loop ends or [[drop]] releases it. */
  def keep[T <: RDD[_]](rdd: T): T = { rdd.persist(); live += rdd; rdd }

  def drop(rdd: RDD[_]): Unit = { live -= rdd; rdd.unpersist() }

  private def releaseAll(): Unit = { live.foreach(_.unpersist()); live.clear() }

  val edges: RDD[(Long, Long)] = keep(Dedup.dedupMinhashLsh(spark, dir)
    .select(col("da"), col("db")).rdd
    .flatMap { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      Iterator((a, b), (b, a))
    }
    .partitionBy(part))

  /** (node, out-degree) for every node of the graph, counted in the
    * partition that owns its edges — no shuffle. */
  def degrees: RDD[(Long, Long)] = edges.mapPartitions({ es =>
    val deg = mutable.HashMap.empty[Long, Long]
    es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
    deg.iterator
  }, preservesPartitioning = true)

  /** One message pass over `state` (keyed by node on [[part]]): each
    * node with state `v` sends `own(v)` to itself, and each edge src→dst
    * sends `send(v_src)` to dst. The caller folds the messages with a
    * `reduceByKey` on [[part]]. */
  def messages[V: ClassTag, M: ClassTag](state: RDD[(Long, V)])(
      own: V => Option[M], send: V => Option[M]): RDD[(Long, M)] =
    edges.zipPartitions(state) { (es, ss) =>
      val st = mutable.HashMap.empty[Long, V]
      ss.foreach { case (n, v) => st(n) = v }
      st.iterator.flatMap { case (n, v) => own(v).map(n -> _) } ++
        es.flatMap { case (s, d) => st.get(s).flatMap(send).map(d -> _) }
    }

  private var round: RDD[_] = null

  /** Round bookkeeping: persist `next`, run its action (the round's one
    * job), then drop the previous round's state. */
  def advance[T](next: RDD[_])(action: => T): T = {
    keep(next)
    val out = action
    if (round != null) drop(round)
    round = next
    out
  }

  /** An eager, localCheckpointed result frame over `rows` — taken while
    * the loop's state is still persisted, so the caller can free it.
    * [[GraftSession.release]] frees it too, if it is still pinned. */
  def result(rows: RDD[Row], schema: StructType)(
      shape: DataFrame => DataFrame): DataFrame = {
    val out = shape(spark.createDataFrame(rows, schema)).localCheckpoint()
    out.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(PairGraph.pin(spark, dir, _))
    out
  }
}

private[operators] object PairGraph {

  /** Result checkpoints per (session, corpus), held weakly: a result the
    * caller dropped is cleaned by Spark's ContextCleaner after GC, one it
    * still holds is freed when the session releases Curation's
    * artifacts. */
  private val ResultsKind =
    SessionArtifacts.Kind(Curation.Owner, "graph-results")

  private type Results = ConcurrentLinkedQueue[WeakReference[RDD[_]]]

  private def pin(spark: SparkSession, dir: String, rdd: RDD[_]): Unit = {
    val refs = SessionArtifacts.getOrBuild(spark, dir, ResultsKind)(
        new Results) { (refs: Results) =>
      refs.forEach(r => Option(r.get).foreach(_.unpersist(blocking = true)))
    }
    refs.removeIf(_.get == null)
    refs.add(new WeakReference[RDD[_]](rdd))
  }

  /** Build the pair graph of `dir`, run `loop` over it, and unpersist
    * everything it kept — also when the loop throws. */
  def run[T](spark: SparkSession, dir: String)(loop: PairGraph => T): T = {
    val g = new PairGraph(spark, dir)
    try loop(g) finally g.releaseAll()
  }

  /** Spark SQL's `round(x, scale)` on a double: HALF_UP on the value's
    * shortest decimal form, NaN and infinities unchanged. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
