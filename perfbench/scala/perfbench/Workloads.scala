package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.expr.MatchExprs
import graft.operators.{Dedup, Multimodal, Relational, Similarity}
import graft.pipeline.BatchPipeline

/** Where a query op's result goes: the noop sink in the timed phases, a
  * parquet dump for the launcher's oracle compare in the warm-up. */
trait Sink { def apply(key: String, df: DataFrame): Unit }

/** One step of a workload cycle. Ops are what the benchmark counts and
  * times; phases (the corpus ingest and restore) are timed but not ops. */
final case class Step(key: String, isOp: Boolean,
    body: (SparkSession, Sink) => Unit)

/** A named workload over generated inputs. `cycle` is run whole, in
  * order, for warm-up and in each timed phase. */
trait Workload {
  def name: String
  /** The phase the next steps belong to: "warmup", "untraced" or
    * "traced"; set by the runner. */
  var phase: String = "warmup"
  def cycle: Seq[Step]
  /** Workload facts for the launcher: last asOf, output sizes, timings. */
  def report: Map[String, Any] = Map.empty
  /** This workload's share of the per-layer metrics, after the traced
    * phase. Every name must appear in `Layers.all`. */
  def layers(spark: SparkSession, views: Seq[Tracer#OpView]): Map[String, Double] =
    Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("daily_pipeline", "corpus_loops")

  def apply(name: String, input: String, work: String,
      opts: Map[String, String]): Workload = name match {
    case "daily_pipeline" => new DailyPipeline(input, work,
      LocalDate.parse(opts("as-of-base")), opts("as-of-days").toInt)
    case "corpus_loops" => new CorpusLoops(input, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** (files, bytes) of the data files under `dir`. */
  def dataFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L) else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter { p =>
          Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            !n.startsWith(".") && !n.startsWith("_")
          }
        }.toSeq
        (files.size.toLong, files.map(p => Files.size(p)).sum)
      } finally s.close()
    }
  }

  def hasScanOf(paths: Seq[String], name: String): Int =
    paths.count(p => p.endsWith(s"/$name") || p.endsWith(s"/$name/"))
}

/** The reference's daily job: one op is one `BatchPipeline.run` over the
  * whole season, published into the same output directory every time. */
final class DailyPipeline(input: String, work: String, asOfBase: LocalDate,
    asOfDays: Int) extends Workload {
  import Workloads._

  val name = "daily_pipeline"
  private val rawPath = s"$input/raw.parquet"
  private val out = s"$work/pipeline_out"
  private var k = 0
  private var lastAsOf = asOfBase

  private def asOf(i: Int) = asOfBase.plusDays((i % asOfDays).toLong)
  private def runTs(d: LocalDate) = s"$d 02:00:00"

  val cycle: Seq[Step] = Seq(Step("pipeline_run", isOp = true, { (spark, _) =>
    val d = asOf(k)
    k += 1
    BatchPipeline.run(spark, spark.read.parquet(rawPath), d, runTs(d), out)
    lastAsOf = d
  }))

  private def inputBytes = dataFiles(rawPath)._2

  override def report: Map[String, Any] = Map(
    "last_as_of" -> lastAsOf.toString, "output_dir" -> out,
    "stored_bytes_per_input_byte" -> dataFiles(out)._2.toDouble / inputBytes)

  override def layers(spark: SparkSession,
      views: Seq[Tracer#OpView]): Map[String, Double] = {
    def writeSeconds(table: String) = mean(views.map(_.queries
      .filter(_.writePaths.exists(_.endsWith(s"/$table")))
      .map(_.durationNs / 1e9).sum))
    val rawScans = mean(views.map(_.queries
      .map(q => hasScanOf(q.scanPaths, "raw.parquet")).sum.toDouble))
    val (files, bytes) = dataFiles(out)
    // the two layers under the pipeline, called directly
    val d = asOf(k)
    val raw = spark.read.parquet(rawPath)
    val clean = median((1 to 3).map(_ => seconds(noop(MatchExprs.clean(raw, d, runTs(d))))))
    val cleaned = MatchExprs.clean(raw, d, runTs(d)).select(col("league"),
      col("home_team").as("home"), col("away_team").as("away"),
      col("home_score").as("hs"), col("away_score").as("as_")).cache()
    cleaned.count()
    val standings = median((1 to 3).map(_ =>
      seconds(noop(Relational.standingsOf(cleaned, Seq("league"))))))
    cleaned.unpersist(blocking = true)
    Map(
      "pipeline.matches_write_s" -> writeSeconds("matches"),
      "pipeline.standings_write_s" -> writeSeconds("standings"),
      "pipeline.raw_scans" -> rawScans,
      "pipeline.output_files" -> files.toDouble,
      "pipeline.output_bytes" -> bytes.toDouble,
      "pipeline.stored_bytes_per_input_byte" -> bytes.toDouble / inputBytes,
      "expr.clean_s" -> clean,
      "relational.standings_s" -> standings)
  }
}

/** The corpus index lifecycle: each cycle ingests (builds and saves the
  * indexes from evicted caches), restores them, then runs the index
  * consumers and the round loops once each. */
final class CorpusLoops(input: String, work: String) extends Workload {
  import Workloads._

  val name = "corpus_loops"
  private val dedupPath = s"$work/index/dedup"
  private val ivfPath = s"$work/index/ivf"
  /** (phase, measurement) for every ingest and restore run. */
  private val ingests = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
  private val loads = mutable.ArrayBuffer.empty[(String, Double)]

  private def ingest(spark: SparkSession): Unit = {
    GraftSession.release(spark, Some(input))
    val dedup = seconds(Dedup.buildIndexes(spark, input))
    val ivf = seconds(Similarity.buildIvfIndex(spark, input))
    val dhash = seconds(Multimodal.buildDhashSketch(spark, input))
    val save = seconds {
      Dedup.saveDedupIndex(spark, input, dedupPath)
      Similarity.saveIvfIndex(spark, input, ivfPath)
    }
    val pinned = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum.toDouble
    ingests += phase -> Map("dedup" -> dedup, "ivf" -> ivf, "dhash" -> dhash,
      "save" -> save, "pinned" -> pinned)
  }

  private def restore(spark: SparkSession): Unit = {
    GraftSession.release(spark, Some(input))
    loads += phase -> seconds(GraftSession.loadIndexes(spark, input, dedupPath, ivfPath))
  }

  val cycle: Seq[Step] =
    Seq(Step("ingest", isOp = false, (spark, _) => ingest(spark)),
      Step("restore", isOp = false, (spark, _) => restore(spark))) ++
      (CorpusLoops.consumers ++ CorpusLoops.loops).map { key =>
        Step(key, isOp = true, (spark, sink) => sink(key, SparkEntry.queries(key)(spark, input)))
      }

  override def report: Map[String, Any] = Map(
    "load_s" -> Json.obj(loads.groupBy(_._1).view
      .mapValues(v => Json.arr(v.map(_._2))).toSeq: _*))

  override def layers(spark: SparkSession,
      views: Seq[Tracer#OpView]): Map[String, Double] = {
    val traced = ingests.filter(_._1 == "traced").map(_._2).toSeq
    def part(name: String) = median(traced.map(_(name)))
    val saved = dataFiles(dedupPath)._2 + dataFiles(ivfPath)._2
    Map(
      "index.dedup_build_s" -> part("dedup"),
      "index.ivf_build_s" -> part("ivf"),
      "index.dhash_build_s" -> part("dhash"),
      "index.save_s" -> part("save"),
      "index.saved_bytes" -> saved.toDouble,
      "index.load_s" -> median(loads.filter(_._1 == "traced").map(_._2).toSeq),
      "cache.pinned_bytes" -> part("pinned"),
      "cache.corpus_scans_per_op" -> mean(views.map(_.queries.map(q =>
        hasScanOf(q.scanPaths, "documents.parquet") +
          hasScanOf(q.scanPaths, "embeddings.parquet")).sum.toDouble))) ++
      Layers.perKey(views, CorpusLoops.loops, "loop.jobs.", _.jobs.size.toDouble) ++
      Layers.perKey(views, CorpusLoops.loops, "loop.driver_idle_s.", _.idleMs / 1e3) ++
      Layers.perKey(views, CorpusLoops.consumers, "consumer.query_s.", _.wallMs / 1e3)
  }
}

object CorpusLoops {
  val consumers: Seq[String] = Seq("dedup_minhash_lsh", "sim_ivf_ann",
    "mm_dhash_neardup", "dedup_containment", "cur_dedup_clusters")
  val loops: Seq[String] = Seq("text_classifier_train", "cur_doremi_mix",
    "graph_kcore", "text_bpe_train", "graph_pagerank", "graph_label_prop")
}
