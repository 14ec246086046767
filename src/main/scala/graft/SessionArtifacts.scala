package graft

import java.util.concurrent.{CompletableFuture, ExecutionException}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store for the artifacts the operators memoize per session:
  * signature, IVF and image indexes, the cleaned corpus, cluster labels,
  * replay logs, eval shingles and probe broadcasts. An entry is keyed by
  * (session, corpus dir, [[Kind]]) and carries its own release policy.
  *
  * Each key has at most one build in flight. Concurrent callers of
  * [[getOrBuild]] wait for it and share its value, so a corpus is never
  * sketched twice and no losing build is left persisted with nothing to
  * free it (`TrieMap.getOrElseUpdate` runs its builder once per racing
  * caller). Builds run outside any lock, keyed by a per-key cell, so one
  * build may start another: the cleaned corpus builds the pair index,
  * which builds the sketch table. A build that throws is not memoized:
  * every waiter gets its exception and the next call builds again.
  */
object SessionArtifacts {

  /** What an artifact is: the operator that owns it, and a name (any
    * value with equality) unique within that owner. */
  final case class Kind(owner: String, name: Any)

  private final case class Key(session: String, dir: String, kind: Kind)

  /** One entry: its value once built, or the build's failure, and how
    * to free it. */
  private final class Cell(free: Any => Unit) {
    val value = new CompletableFuture[Any]

    def get(): Any =
      try value.get() catch { case e: ExecutionException => throw e.getCause }

    /** Free the value now, or when its build completes (a failed build
      * holds nothing). */
    def release(): Unit =
      if (!value.isDone) value.thenAccept(v => free(v))
      else if (!value.isCompletedExceptionally) free(value.join())
  }

  private val cells = TrieMap.empty[Key, Cell]

  private def key(spark: SparkSession, dir: String, kind: Kind): Key =
    Key(GraftSession.sessionId(spark), dir, kind)

  /** Run `body` as `cell`'s build. */
  private def fill[T](k: Key, cell: Cell, body: => T): T =
    try {
      val v = body
      cell.value.complete(v)
      v
    } catch {
      case e: Throwable =>
        cells.remove(k, cell) // before waking waiters: a retry rebuilds
        cell.value.completeExceptionally(e)
        throw e
    }

  /** The artifact `kind` of `dir` for this session: built by `build` on
    * the first call, and freed by `free` on release. */
  def getOrBuild[T](spark: SparkSession, dir: String, kind: Kind)(
      build: => T)(free: T => Unit): T = {
    val k = key(spark, dir, kind)
    val mine = new Cell(free.asInstanceOf[Any => Unit])
    cells.putIfAbsent(k, mine) match {
      case None => fill(k, mine, build)
      case Some(theirs) => theirs.get().asInstanceOf[T]
    }
  }

  /** Replace the artifact `kind` of `dir` with the value of `build`,
    * freeing the one it replaces before `build` runs. Callers that
    * arrive meanwhile wait for the new value. */
  def install[T](spark: SparkSession, dir: String, kind: Kind)(
      build: => T)(free: T => Unit): T = {
    val k = key(spark, dir, kind)
    val mine = new Cell(free.asInstanceOf[Any => Unit])
    cells.put(k, mine).foreach(_.release())
    fill(k, mine, build)
  }

  /** Evict and free one artifact, if it is there. */
  def evict(spark: SparkSession, dir: String, kind: Kind): Unit = {
    val k = key(spark, dir, kind)
    cells.remove(k).foreach(_.release())
  }

  /** Evict and free this session's artifacts: every one, or those of
    * `dir`, or of one `owner` only. Queries stay valid afterwards; the
    * next consumer rebuilds what it needs. */
  def release(spark: SparkSession, dir: Option[String] = None,
      owner: Option[String] = None): Unit = {
    val sid = GraftSession.sessionId(spark)
    cells.keys
      .filter(k => k.session == sid && dir.forall(_ == k.dir) &&
        owner.forall(_ == k.kind.owner))
      .foreach(k => cells.remove(k).foreach(_.release()))
  }

  /** How many of `owner`'s artifacts this session holds. */
  private[graft] def count(spark: SparkSession, owner: String): Int = {
    val sid = GraftSession.sessionId(spark)
    cells.keys.count(k => k.session == sid && k.kind.owner == owner)
  }

  /** Release policy of a persisted frame: drop its blocks before
    * returning, so executor memory is free on return. */
  val unpersist: DataFrame => Unit = _.unpersist(blocking = true)
}
