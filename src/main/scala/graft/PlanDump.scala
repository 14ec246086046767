package graft

/** Dev utility: print formatted physical plans for named queries (all
  * headline queries if none given) — the per-round check that filters push
  * into scans, small sides broadcast, and codegen spans stay wide.
  *
  * Usage: runMain graft.PlanDump <sfDir> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val spark = GraftSession.local("graft-plandump", "4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      Bench.queryFrame(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
