package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One benchmark run of one workload in this JVM: a set-up, an untraced
  * timed phase and, with `--trace 1`, a traced timed phase. The last
  * warm-up cycle dumps every query op's result for the
  * launcher's oracle compare. Writes raw measurements to `--out`; the
  * launcher (perfbench/run.py) turns them into metrics.
  *
  * Usage: perfbench.Main --workload <name> --input <dir> --work <dir>
  *   --out <file.json> --cores <n> --seconds <s> --trace <0|1>
  *   --warmup-cycles <n> --as-of-base <yyyy-mm-dd>
  *   --as-of-days <n>
  */
object Main {

  final case class StepResult(key: String, isOp: Boolean, seconds: Double,
      error: Option[String]) {
    def json: AnyRef = Json.obj("key" -> key, "op" -> isOp, "s" -> seconds,
      "error" -> error.orNull)
  }

  final case class Phase(steps: Seq[StepResult], wallS: Double, gcS: Double) {
    def ops: Seq[StepResult] = steps.filter(_.isOp)
    def opsPerS: Double = ops.size / wallS
    def json: AnyRef = Json.obj("wall_s" -> wallS, "gc_s" -> gcS,
      "steps" -> Json.arr(steps.map(_.json)))
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Heap in use once full collections free nothing more: what the
    * program holds, apart from garbage and the pinned heap size. Spark's
    * ContextCleaner drops broadcast and shuffle state only after a
    * collection has found its owner unreachable, so one collection is not
    * enough: collect until the heap shrinks by less than 1%. Called
    * outside the timed phases. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, next, rounds) = (Double.MaxValue, collect(), 0)
    while (next < last * 0.99 && rounds < 10) {
      Thread.sleep(500) // give the cleaner thread time to drop what it found
      last = next
      next = collect()
      rounds += 1
    }
    next
  }

  private val noopSink: Sink = (_, df) => Workloads.noop(df)

  private def dumpSink(dir: String): Sink = (key, df) =>
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")

  private def runStep(spark: SparkSession, step: Step, sink: Sink,
      tracer: Option[Tracer]): StepResult = {
    if (step.isOp) tracer.foreach(_.begin(step.key))
    val t0 = System.nanoTime()
    val error =
      try { step.body(spark, sink); None }
      catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val s = (System.nanoTime() - t0) / 1e9
    if (step.isOp) tracer.foreach(_.end())
    error.foreach(m => System.err.println(s"[perfbench] ${step.key} failed: $m"))
    StepResult(step.key, step.isOp, s, error)
  }

  /** Whole cycles, at least one, while another cycle of average length
    * would end less than half a cycle past `seconds`. */
  private def runPhase(spark: SparkSession, wl: Workload, label: String,
      seconds: Double, tracer: Option[Tracer]): Phase = {
    wl.phase = label
    val steps = mutable.ArrayBuffer.empty[StepResult]
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var cycles = 0
    while (cycles == 0 || elapsed + elapsed / cycles / 2 < seconds) {
      wl.cycle.foreach(s => steps += runStep(spark, s, noopSink, tracer))
      cycles += 1
    }
    Phase(steps.toSeq, elapsed, gcSeconds - gc0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wl = Workloads(opts("workload"), opts("input"), opts("work"), opts)
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val checkDir = s"${opts("work")}/check"
    val warmupCycles = opts("warmup-cycles").toInt

    // Set-up, timed from JVM start to the first timed op: session build
    // plus `warmupCycles` warm-up cycles, the last of which dumps outputs.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(s"perfbench-${wl.name}", cores.toString)
    wl.phase = "warmup"
    val warmups = (1 to warmupCycles).flatMap { c =>
      val sink = if (c == warmupCycles) dumpSink(checkDir) else noopSink
      wl.cycle.map(runStep(spark, _, sink, None))
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val untraced = runPhase(spark, wl, "untraced", seconds, None)
    val liveHeap = liveHeapMb()

    val traced = if (!trace) None else {
      val tracer = new Tracer(spark)
      tracer.attach()
      val phase = runPhase(spark, wl, "traced", seconds, Some(tracer))
      tracer.detach()
      val views = tracer.ops.map(tracer.view)
      val layers = Layers.perOp(views, cores) ++ wl.layers(spark, views) ++ Map(
        "jvm.gc_s" -> phase.gcS / math.max(1, phase.ops.size),
        "trace_overhead" -> untraced.opsPerS / phase.opsPerS)
      Json.write(s"${opts("work")}/spans.json", tracer.spansJson())
      Some((phase, layers))
    }

    val oracle = wl.cycle.filter(_.isOp).flatMap(s => SparkEntry.oracleSql.get(s.key).map(s.key -> _))
    Json.write(s"${opts("work")}/oracle_sql.json", Json.obj(oracle: _*))

    GraftSession.release(spark)
    val rddsLeft = spark.sparkContext.getPersistentRDDs.size.toDouble
    val layers = traced.map { case (_, l) =>
      val all = l + ("cache.rdds_left_after_release" -> rddsLeft)
      val unknown = all.keySet -- Layers.all
      require(unknown.isEmpty, s"layer metrics without a name in Layers.all: $unknown")
      Json.obj(Layers.all.map(n => n -> all.getOrElse(n, 0.0)): _*)
    }

    Json.write(opts("out"), Json.obj(
      "workload" -> wl.name,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS,
      "warmup" -> Json.arr(warmups.map(_.json)),
      "untraced" -> untraced.json,
      "traced" -> traced.map(_._1.json).orNull,
      "layers" -> layers.orNull,
      "report" -> Json.obj(wl.report.toSeq: _*),
      "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveHeap))
    spark.stop()
  }
}
