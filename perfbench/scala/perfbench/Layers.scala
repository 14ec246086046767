package perfbench

/** The per-layer metrics of a traced phase. Every traced run reports every
  * name in `all`: a layer the workload does not exercise reads 0. */
object Layers {
  import Workloads.mean

  val generic: Seq[String] = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "sched.actions", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.unattributed_jobs", "driver.idle_s",
    "task.run_s", "task.cpu_s", "task.gc_s", "task.utilization",
    "scan.input_bytes", "scan.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.bytes", "cache.rdds_left_after_release", "jvm.gc_s",
    "trace_overhead")

  val workloadNames: Seq[String] =
    Seq(
      "pipeline.matches_write_s", "pipeline.standings_write_s",
      "pipeline.raw_scans", "pipeline.output_files", "pipeline.output_bytes",
      "pipeline.stored_bytes_per_input_byte",
      "expr.clean_s", "relational.standings_s",
      "index.dedup_build_s", "index.ivf_build_s", "index.dhash_build_s",
      "index.save_s", "index.saved_bytes", "index.load_s",
      "cache.corpus_scans_per_op", "cache.pinned_bytes") ++
      CorpusLoops.loops.map("loop.jobs." + _) ++
      CorpusLoops.loops.map("loop.driver_idle_s." + _) ++
      CorpusLoops.consumers.map("consumer.query_s." + _)

  val all: Seq[String] = generic ++ workloadNames

  /** Means per op over the traced ops, except `task.utilization`: summed
    * task time over summed op wall time × cores. */
  def perOp(views: Seq[Tracer#OpView], cores: Int): Map[String, Double] = {
    def per(f: Tracer#OpView => Double) = mean(views.map(f))
    val wallMs = views.map(_.wallMs).sum.toDouble
    Map(
      "catalyst.analysis_s" -> per(_.queries.map(_.analysisMs).sum / 1e3),
      "catalyst.optimization_s" -> per(_.queries.map(_.optimizationMs).sum / 1e3),
      "catalyst.planning_s" -> per(_.queries.map(_.planningMs).sum / 1e3),
      "sched.actions" -> per(_.actions.size.toDouble),
      "sched.jobs" -> per(_.jobs.size.toDouble),
      "sched.stages" -> per(_.stages.count(_.start > 0).toDouble),
      "sched.tasks" -> per(_.sum(_.tasks.toLong).toDouble),
      "sched.unattributed_jobs" -> per(_.unattributedJobs.toDouble),
      "driver.idle_s" -> per(_.idleMs / 1e3),
      "task.run_s" -> per(_.sum(_.runMs) / 1e3),
      "task.cpu_s" -> per(_.sum(_.cpuNs) / 1e9),
      "task.gc_s" -> per(_.sum(_.gcMs) / 1e3),
      "task.utilization" ->
        (if (wallMs <= 0) 0.0 else views.map(_.sum(_.runMs)).sum / (wallMs * cores)),
      "scan.input_bytes" -> per(_.sum(_.inputBytes).toDouble),
      "scan.input_rows" -> per(_.sum(_.inputRows).toDouble),
      "shuffle.write_bytes" -> per(_.sum(_.shuffleWrite).toDouble),
      "shuffle.read_bytes" -> per(_.sum(_.shuffleRead).toDouble),
      "shuffle.fetch_wait_s" -> per(_.sum(_.fetchWaitMs) / 1e3),
      "spill.bytes" -> per(_.sum(_.spill).toDouble))
  }

  /** `prefix + key` → mean of `f` over the ops of each key. */
  def perKey(views: Seq[Tracer#OpView], keys: Seq[String], prefix: String,
      f: Tracer#OpView => Double): Map[String, Double] =
    keys.map(k => (prefix + k) -> mean(views.filter(_.op.key == k).map(f))).toMap
}
