package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev iteration only; the driver always passes 2):
    // comma-separated query keys — run just those. A typo'd name must
    // fail fast (ADVICE r7: a silently-empty filter made an all-skip run
    // look green).
    val only = args.lift(2).map(_.split(',').toSet)
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s) in subset arg: ${unknown.toSeq.sorted.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
    // Manifest FIRST, listing every query this run will attempt: a query
    // that crashes (dir never written) must read as a FAILURE downstream,
    // not as "not dumped" (ADVICE r7 — check_oracle.py skips missing dirs
    // to support subset runs, which hid crashed queries in full runs).
    Json.write(s"$outDir/manifest.json", attempted)
    // each query runs under its key as job group and description, so
    // Spark's own tooling names its jobs
    attempted.foreach { name =>
      try graft.obs.Profile.run(spark, name) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Json.write(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    GraftSession.release(spark) // unpin operator caches before teardown
    spark.stop()
  }
}
