package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Profile
import graft.operators.{CorpusPipeline, Curation, Dedup}

/** The session-artifact store under concurrent callers: one build per
  * key however many callers race for it, nested builds that neither
  * deadlock nor trip a recursive-update check, and failures that reach
  * every waiter without being memoized. Also the guards that keep every
  * operator cache in the store and every listener in [[graft.obs.Profile]].
  */
class SessionArtifactsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val threads = 8

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `body` on `threads` threads released at the same instant. */
  private def race[T](body: => T): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val runs = Seq.fill(threads)(Future { go.await(); Try(body) })
      go.countDown()
      Await.result(Future.sequence(runs), 5.minutes)
    } finally pool.shutdownNow()
  }

  /** (jobs run, RDDs left persisted) by `body`. The racing threads are
    * started inside `body`, so they inherit its job group. */
  private def footprint(body: => Unit): (Int, Set[Int]) = {
    val base = persisted
    val (_, p) = Profile.run(spark, "footprint")(body)
    (p.jobs, persisted -- base)
  }

  /** `threads` racing callers of `call` pin the RDDs of one caller, run
    * the jobs of one build, and leave none of them after release. A
    * build's job count varies by a job or two under AQE, while every
    * extra build runs at least its own materializing action, so one
    * build per racing caller would add `threads - 1` jobs or more. */
  private def buildsOnce(call: => Any): Unit = {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    GraftSession.release(spark)
    val (jobs, single) = footprint(call)
    assert(single.nonEmpty, "building the artifact must pin storage blocks")
    GraftSession.release(spark)
    val (raceJobs, raced) =
      footprint(race(call).foreach(r => assert(r.isSuccess, r)))
    info(s"one caller: $jobs jobs, ${single.size} RDDs pinned; " +
      s"$threads racing callers: $raceJobs jobs, ${raced.size} RDDs")
    assert(raced.size == single.size,
      s"$threads racing callers pinned ${raced.size} RDDs, one caller " +
        s"${single.size}")
    assert(raceJobs < jobs + threads - 1,
      s"$threads racing callers ran $raceJobs jobs, one caller $jobs")
    GraftSession.release(spark)
    val left = persisted.intersect(single ++ raced)
    assert(left.isEmpty, s"blocks survived release: $left")
  }

  test("concurrent callers of one index build it once and leak nothing") {
    buildsOnce(Dedup.dedupMinhashLsh(spark, dir))
  }

  test("concurrent callers of the cluster labels build them once and " +
      "leak no checkpoint") {
    buildsOnce(Curation.dedupClusters(spark, dir))
  }

  test("concurrent callers of a nested build finish and share its value") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    GraftSession.release(spark)
    // corpusClean builds the pair index, which builds the sketch table
    val results = race(CorpusPipeline.corpusClean(spark, dir))
    results.foreach(r => assert(r.isSuccess, r))
    val frames = results.map(_.get)
    assert(frames.forall(_ eq frames.head),
      "every caller must get the one cleaned corpus")
    assert(frames.head.count() > 0)
    GraftSession.release(spark)
  }

  test("a failed build reaches every waiter and is rebuilt on the next call") {
    val kind = SessionArtifacts.Kind("spec", "failing")
    val builds = new AtomicInteger
    val waiting = new CountDownLatch(threads)
    val fail = new CountDownLatch(1)
    val results = {
      val pool = Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val runs = Seq.fill(threads)(Future {
          waiting.countDown()
          Try(SessionArtifacts.getOrBuild(spark, "spec-dir", kind) {
            builds.incrementAndGet()
            fail.await(1, TimeUnit.MINUTES)
            throw new IllegalStateException("build failed")
          }((_: Int) => ()))
        })
        waiting.await()
        Thread.sleep(500) // let every caller reach the in-flight build
        fail.countDown()
        Await.result(Future.sequence(runs), 2.minutes)
      } finally pool.shutdownNow()
    }
    assert(builds.get == 1, s"${builds.get} builds for one key")
    results.foreach { r =>
      assert(r.failed.toOption.exists(_.getMessage == "build failed"), r)
    }
    val rebuilt = SessionArtifacts.getOrBuild(spark, "spec-dir", kind) {
      builds.incrementAndGet()
      42
    }((_: Int) => ())
    assert(rebuilt == 42 && builds.get == 2,
      "a failed build must not be memoized")
    SessionArtifacts.release(spark, Some("spec-dir"))
    assert(SessionArtifacts.count(spark, "spec") == 0)
  }

  /** Each Scala file under src/main with its text. */
  private def mainSources: Seq[(java.io.File, String)] = {
    val main = new java.io.File(RepoRoot.dir, "src/main")
    assume(main.isDirectory, s"$main absent")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(main).filter(_.getName.endsWith(".scala")).map { f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  /** Source scans: (test name, the one file allowed to match, what a
    * file must not contain, what to do instead). */
  for ((name, exempt, matches, advice) <- Seq[(String, String, String => Boolean, String)](
      ("no file under src/main but SessionArtifacts keeps its own cache",
        "graft/SessionArtifacts.scala",
        src => src.contains("TrieMap") || src.contains("getOrElseUpdate"),
        "memoize through SessionArtifacts instead"),
      ("no file under src/main but graft/obs/Profile.scala declares a " +
        "SparkListener", "graft/obs/Profile.scala",
        src => """(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b"""
          .r.findFirstIn(src).isDefined,
        "profile through graft.obs.Profile.run instead"),
      ("no file under src/main sleeps or hands its caller a checkpoint", "",
        src => src.contains("Thread.sleep") || src.contains("callerOwnedCheckpoints"),
        "drain the listener bus (ListenerBusDrain) instead of sleeping, and " +
          "return frames that pin no storage")))
    test(name) {
      val offenders = mainSources.collect {
        case (f, src) if !(exempt.nonEmpty && f.getPath.endsWith(exempt)) &&
            matches(src) => f
      }
      assert(offenders.isEmpty, s"$advice: ${offenders.mkString(", ")}")
    }
}
