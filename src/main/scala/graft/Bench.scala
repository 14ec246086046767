package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.obs.Profile
import graft.operators.{CorpusPipeline, Curation, Dedup, EventAnalytics,
  Multimodal, Profiling, Similarity, TextAnalysis}

/** Benchmark main: times every bench row on one scale-factor directory,
  * writes the full record to `bench_samples.json` in the working
  * directory, and prints a one-line JSON summary as the last line of
  * stdout.
  *
  * Environment:
  *  - `SPARK_GRAFT_SF_DIR`: the tables to read;
  *  - `SPARK_GRAFT_CPUS`: the `local[N]` core count and the shuffle
  *    partition count (default 32);
  *  - `SPARK_GRAFT_BENCH_REPS`: timed passes over the suite (default 3);
  *  - `SPARK_GRAFT_BENCH_ONLY`: a comma list of rows to run instead of
  *    the whole suite; unknown names fail fast;
  *  - `SPARK_GRAFT_TIEBREAK_S`: wall budget of the tiebreak reps
  *    (default 150 s).
  *
  * Rows are the [[headline]] query keys and [[prodRows]], each written to
  * the `noop` sink (which materializes every column), the index family
  * builds ([[indexFamilyRows]]) with their per-rep sum [[indexBuildRow]],
  * and the persisted-index rows ([[indexColdRows]]).
  *
  * How a run goes:
  *  - A fixed CPU calibration ([[cpuCalibration]]) and one untimed build
  *    of each index family absorb host drift and first-run code
  *    generation.
  *  - The timed passes are interleaved: each runs the whole suite once,
  *    the index families first, then the two rows that build memos other
  *    rows read, then every other row in a per-pass seeded permutation.
  *    Rows that memoize their own result have it released before each
  *    rep. A row's headline number is the minimum of its reps, the
  *    estimate least touched by load bursts; the sidecar keeps the
  *    median, every sample and the 1-minute load average before each.
  *  - Every timed rep runs under [[graft.obs.Profile.run]], keyed by its
  *    row, which times it. The sidecar keeps, per row, the shuffle and
  *    spill bytes (`shuffle_mb`) and the jobs, stages, tasks and task
  *    time (`profile`) of its fastest rep, and the classes compiled over
  *    all its reps (`codegen`).
  *  - Rows whose samples spread more than 1.3x get tiebreak reps within
  *    the tiebreak budget, widest spread first.
  *  - A failed rep records -1. A row with a failed rep reports -1, is
  *    listed in `failed`, and is left out of the total.
  *  - Full runs time two index builds per family without the collection
  *    that precedes a timed build (`index_nogc`). The persisted-index
  *    leg runs unless a subset leaves out all of its rows.
  *  - When `BASELINE_BENCH.json` records this scale factor, each row is
  *    compared with it after dividing out the calibration ratio
  *    (`vsb_*`), so host drift cancels. When `tools/oracle_times.json`
  *    has DuckDB times for it, so are the DuckDB ratios (`svd_*`).
  */
object Bench {

  /** Representative spread: scan+agg, the standings pipeline, joins, top-k,
    * windowed events, dedup family (LSH variants, not the quadratic
    * baselines), similarity, and per-row text ops.
    */
  val headline: Seq[String] = Seq(
    "q5_star_join", "q6_selective_agg", "st4_sessionize", "o4_window_funcs",
    "a2_group_sum", "a3_standings", "j1_full_outer", "j2_semi_exists",
    "o3_topk_limit", "o5_topk_per_key", "j4_range_join", "j5_bloom_join",
    "j6_salted_join", "u4_upsert", "ev_conversions", "ev_funnel",
    "st3_window_agg",
    "f3_date_window",
    "x7_date_parse", "ts_gapfill", "text_token_topk",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "corpus_clean",
    "sim_topk_bruteforce", "sim_lsh_ann", "sim_ivf_ann", "sim_ivf_kmeans",
    "text_quality",
    "text_fingerprint",
    "cur_dedup_clusters", "cur_sample_stratified", "cur_decontaminate",
    "cur_corpus_curate", "cur_pack_sequences", "cur_pack_assemble",
    "cur_mixture_sample", "cur_sample_topn", "text_repetition",
    // round-7 additions: span dedup, search scoring, classic star shapes,
    // compressed-code ANN, one-scan profiling, sliding windows
    "dedup_span", "text_tfidf", "q7_shipping_priority", "q8_exists_agg",
    "sim_pq_ann", "dq_profile", "st6_sliding_window", "ev_retention",
    "ts_resample", "ev_conversions_outer", "asof_nearest",
    // round-8 additions: the round-7 families that were oracle-green but
    // unbenched — search scoring, co-occurrence stats, event analytics,
    // SCD2, anomaly scan, built-in session windows, audio, window deltas
    "text_bm25", "text_inverted_index", "text_bigram_pmi",
    "ev_stickiness", "ev_transitions", "u5_scd2_merge", "dq_anomaly",
    "st7_session_window", "mm_audio_stats", "o10_percent_change",
    // round-8 operators: corpus LM scoring, perceptual-hash image dedup,
    // classic outer-join/HAVING/anti-join query shapes, graph centrality
    "text_lm_score", "mm_dhash_neardup",
    "q9_custdist", "q10_large_orders", "q11_sales_opportunity",
    "graph_pagerank", "sim_knn_label_eval", "dq_heavy_hitters",
    "st8_window_heavy_hitters", "dq_skew_report",
    "st9_window_distinct_users", "dedup_containment",
    "j9_interval_overlap", "j10_temporal_dim_join",
    // round-12 additions: SemDeDup-style semantic prune over the IVF
    // lists, global training-order shuffle, token entropy, snapshot
    // drift (PSI), fractional epoch plan
    "sim_semantic_prune", "cur_global_shuffle", "text_entropy",
    "dq_drift", "cur_epoch_plan", "st11_drift_monitor",
    "cur_token_budget",
    // round-12b additions: BPE pair stats, path analysis, EWMA,
    // curriculum phases, keep-best retention, freshness, profile upsert
    "text_bpe_pairs", "ev_path_topk", "ts_ewma", "cur_curriculum",
    "cur_keep_best", "dq_freshness", "st12_user_profile",
    "cur_temperature_mix", "ts_anomaly", "ev_cohort_value",
    "u6_cdc_apply", "dq_referential",
    // round-12c additions: incremental agg maintenance, partitioned-HLL
    // distinct, A/B readout, cluster-aware leak-free split
    "u7_incremental_agg", "a17_hll_partitioned", "ev_ab_test",
    "cur_split_leakfree",
    // round-12d additions: key-uniqueness audit, RFM segmentation,
    // deterministic negative sampling, hashed-feature classifier,
    // winnowing fingerprints
    "dq_uniqueness", "ev_rfm", "sim_negatives", "text_classifier_score",
    "text_winnowing", "dedup_winnow_pairs", "sim_negatives_hard",
    "dedup_url", "ts_holt", "o11_latest_per_key", "x17_url_normalize",
    // round-13 additions: full BPE tokenizer training (k merge rounds)
    // + corpus-wide encode, partitioned histogram quantiles, multi-touch
    // linear attribution
    "text_bpe_train", "text_bpe_encode", "a19_histogram_quantiles",
    "ev_attribution_multi", "text_classifier_train", "mm_shot_boundary",
    "cur_token_budget_bpe",
    // round-13b additions: triangle census over the pair graph, corpus
    // Zipf/Heaps law report, STL seasonal-trend decomposition (the LSH
    // recall audit stays unbenched — its ground-truth side is the
    // quarantined quadratic baseline)
    "graph_triangles", "text_zipf", "ts_stl",
    "ts_changepoint", "dq_benford",
    // round-13c additions: label-propagation communities, the ACF
    // diagnostic, RAKE keyword extraction
    "graph_label_prop", "ts_acf", "text_keywords",
    // round-13d additions: prefix-filter exact similarity join, warehouse
    // snapshot diff + SCD2 merge, forecast backtest, audio segmentation
    "dedup_prefix_join", "wh_snapshot_diff", "wh_scd2", "ts_backtest",
    "mm_audio_segments",
    // round-13e additions: snapshot profile drift, held-out LM eval,
    // JL projection distortion audit
    "wh_profile_drift", "text_lm_heldout", "sim_jl_audit",
    // round-13f additions: filter-threshold sweep, power-iteration PCA
    // (the IVF-PQ recall readout stays unbenched — its ground-truth side
    // is the quarantined quadratic baseline, the dedup_lsh_recall rule)
    "cur_filter_sweep", "sim_pca_power",
    // round-13g additions: frontier-BFS k-hop reachability, soft dedup
    // down-weighting, OLS trend by sufficient statistics, pre-flight
    // join-cardinality audit, vocabulary JS-divergence drift
    "graph_khop", "cur_soft_dedup", "ts_linreg", "dq_join_cardinality",
    "text_vocab_drift",
    // round-13h additions: DSIR importance selection (two corpus scans,
    // one 64-row exchange, TakeOrdered top-N) and DoReMi mixture
    // optimization (per round: vocabulary-sized broadcast count tables,
    // |domains|-row collect)
    "cur_dsir_select", "cur_doremi_mix",
    // round-13i additions: Gopher rule funnel (one scan, 6-row unpivot),
    // IVF outlier z-scores (cached index, moments broadcast), and the
    // cross-source shingle-overlap matrix (|sources|²-bounded)
    "text_gopher_rules", "sim_outliers", "dedup_source_overlap",
    // cluster-size histogram (memoized labels) and distinct-n diversity
    "dedup_cluster_stats", "text_distinct_n",
    // round-13j: E-S weighted sampling (one scan + top-N), the one-pass
    // Pearson matrix (15 map-side sufficient statistics), and tokenizer
    // fertility by language (map-side encode, |langs|-row agg)
    "cur_sample_es", "dq_correlation", "text_fertility",
    // DCT perceptual hash through the real codec (map-side, zero shuffle)
    "mm_phash",
    // round-14: the executable 100 TB approx swaps (HLL key-uniqueness,
    // sketch-cutoff RFM, HLL distinct-n) — contract-checked vs exact
    "dq_uniqueness_approx", "ev_rfm_approx", "text_distinct_n_approx",
    // round-15: k-anonymity privacy audit (reduced-key aggregations)
    "dq_k_anonymity",
    // round-15b: the l-diversity + t-closeness audits completing the
    // privacy triad (distinct-agg on QI keys; broadcast group x bucket
    // EMD algebra) and gain-invariant acoustic-fingerprint audio dedup
    // (map-side Haitsma-Kalker kernel, 24-byte-per-doc exchange)
    "dq_l_diversity", "dq_t_closeness", "mm_audio_fingerprint",
    // the enforcement ladder: one row-linear agg + cell-frame algebra
    "dq_k_anonymize",
    // tolerant fingerprint matching: banded self-join + popcount verify
    "mm_audio_neardup",
    // k-core peel over the memoized pair index (pair-graph nodes only)
    "graph_kcore",
    // round-16: the eval-side contamination report (broadcast-join
    // discipline shared with cur_decontaminate; eval-side aggs only)
    // and the streaming curated-ingest batch twin (admit → scrub →
    // decontaminate → dedup composed; map-side screen vs the broadcast
    // eval artifact, one digest-keyed shuffle)
    "cur_contamination_report", "st14_stream_curate",
    // round-18: incremental IVF admission (batch-only assignment kernel
    // + aggregation of the stored index; zero cosine work on the base)
    "sim_ivf_incremental",
  )

  /** Ingest-time rows, one per index family. They lead every pass, in
    * this order, so the rows after them read a built index; the
    * composite [[indexBuildRow]] is emitted as their per-rep sum.
    */
  val indexBuildRow = "index_build"
  val indexFamilyRows: Seq[String] =
    Seq("index_build_dedup", "index_build_ivf", "index_build_dhash")

  /** Production forms of the three approx swaps. Their contract twins
    * (`dq_uniqueness_approx` …) also pay the exact side to check the
    * error bound; these rows price the sketch-only path. Sketch outputs
    * are engine-specific, so these are bench rows, not oracle-hashed
    * query keys.
    */
  val prodRows: Seq[String] = Seq("dq_uniqueness_approx_prod",
    "ev_rfm_approx_prod", "text_distinct_n_approx_prod")

  private[graft] val prodBodies
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_uniqueness_approx_prod" -> Profiling.dqUniquenessApproxProd,
    "ev_rfm_approx_prod" -> EventAnalytics.evRfmApproxProd,
    "text_distinct_n_approx_prod" -> TextAnalysis.textDistinctNApproxProd)

  /** Persisted-index rows: after the timed passes the dedup and IVF
    * indexes are saved once; each rep then releases them, `index_load`
    * times the restore, and the two `_cold` rows time one consumer of
    * each reloaded index.
    */
  val indexColdRows: Seq[String] =
    Seq("index_load", "dedup_minhash_lsh_cold", "sim_ivf_ann_cold")

  private val familyBuilds: Map[String, (SparkSession, String) => Unit] = Map(
    "index_build_dedup" -> ((s, d) => Dedup.buildIndexes(s, d)),
    "index_build_ivf" -> ((s, d) => Similarity.buildIvfIndex(s, d)),
    "index_build_dhash" -> ((s, d) => Multimodal.buildDhashSketch(s, d)))

  /** Artifact owners released before each rep of a row that memoizes its
    * own result, so that every rep does the row's work.
    */
  private val resetOwners: Map[String, String] = Map(
    "index_build_dedup" -> Dedup.Owner,
    "index_build_ivf" -> Similarity.Owner,
    "index_build_dhash" -> Multimodal.Owner,
    "corpus_clean" -> CorpusPipeline.Owner,
    // reps time the propagation loop, not a read of the memoized labels
    "cur_dedup_clusters" -> Curation.Owner)

  /** The frame of a query row: a production body or a query key. */
  private[graft] def queryFrame(
      name: String): (SparkSession, String) => DataFrame =
    prodBodies.getOrElse(name, SparkEntry.queries(name))

  /** The work of one row: its index family build, or its frame written
    * to the `noop` sink.
    */
  private def runRow(spark: SparkSession, sfDir: String, name: String): Unit =
    familyBuilds.get(name) match {
      case Some(build) => build(spark, sfDir)
      case None => queryFrame(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

  /** One timed rep of a row: its seconds (-1 when it failed), the
    * 1-minute load average before it, and its profile (none for a failed
    * rep or the composite row).
    */
  private final case class Rep(secs: Double, load: Double, profile: Option[Profile])

  private def r2(v: Double): Double = math.round(v * 100) / 100.0
  private def r3(v: Double): Double = math.round(v * 1e3) / 1e3
  private def minOf(samples: Seq[Double]): Double =
    if (samples.contains(-1.0)) -1.0 else samples.min
  private def medianOf(samples: Seq[Double]): Double =
    if (samples.contains(-1.0)) -1.0
    else samples.sorted.apply(samples.length / 2)

  /** Longest stdout summary line: a harness that keeps only the last
    * 2,000 characters of stdout and stderr must capture it whole, with
    * room for the build tool's footer after it.
    */
  private[graft] val LineLimit = 1850

  /** The stdout summary line. `value` and `value_median` total the rows'
    * minima and medians, failed rows and the index family rows (counted
    * once, through the composite row) left out; `queries` holds each
    * row's minimum and `failed` the failed rows. Returns the first of
    * these rungs within [[LineLimit]], else the last: everything;
    * without `diagnostics`; row times to two decimals without `reps` and
    * `ratios`; only the 40 slowest rows and every failed row, with the
    * count of the others as `queries_elided`.
    */
  private[graft] def summaryLine(results: Seq[(String, Seq[Double])],
      reps: Int, diagnostics: ListMap[String, Any],
      ratios: ListMap[String, Any], vsBaseline: ListMap[String, Any],
      sf: String): String = {
    val mins = results.map { case (k, ss) => k -> minOf(ss) }
    def total(stat: Seq[Double] => Double): Double = r3(results
      .collect { case (k, ss) if !familyBuilds.contains(k) => stat(ss) }
      .filter(_ >= 0).sum)
    val failed = mins.collect { case (k, v) if v < 0 => k }
    def line(queries: Seq[(String, Double)], round: Double => Double,
        middle: ListMap[String, Any], extras: ListMap[String, Any]) =
      Json.mapper.writeValueAsString(ListMap[String, Any](
        "metric" -> "total", "value" -> total(minOf),
        "value_median" -> total(medianOf), "unit" -> "sec",
        "queries" -> ListMap.from(queries.map { case (k, v) => k -> round(v) })) ++
        middle ++ ListMap("failed" -> failed) ++ extras ++ ListMap("sf" -> sf))
    val slowest = mins.filter(_._2 >= 0).sortBy(-_._2).take(40).map(_._1).toSet
    val kept = mins.filter { case (k, v) => v < 0 || slowest(k) }
    val withReps = ListMap[String, Any]("reps" -> reps)
    val rungs = Seq(
      line(mins, r3, withReps, diagnostics ++ ratios ++ vsBaseline),
      line(mins, r3, withReps, ratios ++ vsBaseline),
      line(mins, r2, ListMap.empty, vsBaseline),
      line(kept, r2, ListMap("queries_elided" -> (mins.size - kept.size)),
        vsBaseline))
    rungs.find(_.length <= LineLimit).getOrElse(rungs.last)
  }

  /** The tree of a JSON file, or None when it is missing or malformed. */
  private def readJson(path: String): Option[JsonNode] =
    scala.util.Try(Json.mapper.readTree(new java.io.File(path))).toOption

  private def numbers(node: JsonNode): Map[String, Double] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** The committed per-row baseline (`BASELINE_BENCH.json` in the working
    * directory) and the CPU calibration it was measured under:
    * (baseline `cal_st_sec`, seconds per row), empty when the file is
    * missing or records another scale factor.
    */
  private def baselineBench(sf: String): (Double, Map[String, Double]) =
    readJson("BASELINE_BENCH.json").filter(_.path("sf").asText == sf)
      .map(r => (r.path("cal_st_sec").asDouble, numbers(r.path("queries"))))
      .getOrElse((0.0, Map.empty))

  /** DuckDB seconds per headline row at this scale factor, recorded by
    * `tools/time_oracle.py` in `tools/oracle_times.json`.
    */
  private def oracleTimes(sf: String): Map[String, Double] =
    readJson("tools/oracle_times.json")
      .map(r => numbers(r.path(sf)).filter(kv => headline.contains(kv._1)))
      .getOrElse(Map.empty)

  // the first number after `prefix` in a /proc file, or -1 when it
  // cannot be read
  private def procField(file: String, prefix: String): Double =
    scala.util.Try(scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(prefix)).get.stripPrefix(prefix).trim
      .split("\\s+")(0).toDouble).getOrElse(-1.0)
  private def loadavg1: Double = procField("/proc/loadavg", "")
  // floor keeps the -1 of an unreadable file
  private def rssMb: Long =
    (procField("/proc/self/status", "VmRSS:") / 1024).floor.toLong

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Fixed CPU calibration: a deterministic xorshift64* reduction run
    * single-threaded and on `threads` threads at once. When every row
    * moves together between runs of the same binary, the calibration
    * pins the move on the host. st = single-thread seconds; mt = wall
    * seconds of `threads` concurrent copies (mt/st well above 1 means
    * the host is throttled or oversubscribed).
    */
  private def cpuCalibration(threads: Int): (Double, Double) = {
    val iters = 800_000_000L
    def burn(seed: Long): Long = {
      var x = seed | 1L; var acc = 0L; var i = 0L
      while (i < iters) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        acc += x * 0x2545F4914F6CDD1DL
        i += 1
      }
      acc
    }
    val sink = new java.util.concurrent.atomic.AtomicLong() // defeat DCE
    burn(7L) // JIT warmup so st measures steady-state code
    val t0 = System.nanoTime()
    sink.addAndGet(burn(42L))
    val st = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pool = (1 to threads).map { i =>
      val t = new Thread(() => { sink.addAndGet(burn(i.toLong)) })
      t.start(); t
    }
    pool.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    if (sink.get() == 0L) System.err.println("[bench] calibration sink zero")
    (st, mt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val unknown = only.getOrElse(Set.empty) -- headline - indexBuildRow --
      indexFamilyRows -- indexColdRows -- prodRows
    require(unknown.isEmpty, "unknown bench row(s) in SPARK_GRAFT_BENCH_ONLY: " +
      unknown.toSeq.sorted.mkString(","))
    val tiebreakS = sys.env.getOrElse("SPARK_GRAFT_TIEBREAK_S", "150")
    require(tiebreakS.matches("\\d+"), "SPARK_GRAFT_TIEBREAK_S must be a " +
      s"whole number of seconds, got '$tiebreakS'")
    val threads = cpus.toIntOption.getOrElse(32)
    val sfName = new java.io.File(sfDir).getName
    val spark = GraftSession.local("graft-bench", cpus)
    val (calSt, calMt) = cpuCalibration(threads)
    spark.read.parquet(s"$sfDir/region.parquet").count() // warmup

    def run(name: String): Unit = runRow(spark, sfDir, name)
    def reset(name: String): Unit = resetOwners.get(name)
      .foreach(o => SessionArtifacts.release(spark, Some(sfDir), Some(o)))
    // one profiled run of `body` under the job group `label`, or None
    // when it threw
    def attempt(label: String)(body: => Unit): Option[Profile] =
      try Some(Profile.run(spark, label)(body)._2)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}")
        None
      }

    val allRows: Seq[String] = indexFamilyRows ++
      (headline ++ prodRows).filter(q => only.forall(_.contains(q)))
    val repBuf = mutable.LinkedHashMap((allRows ++ indexColdRows)
      .map(n => n -> mutable.ArrayBuffer.empty[Rep]): _*)
    def samples(n: String): Seq[Double] = repBuf(n).toSeq.map(_.secs)
    // One timed rep of `body` as row `name`. The tiebreak passes
    // recordFailure = false: it refines timing, and must not turn a row
    // whose passes all succeeded into a failure.
    def timedRep(name: String, recordFailure: Boolean = true)(
        body: => Unit): Unit = {
      val la = loadavg1
      val p = attempt(name)(body)
      if (p.isDefined || recordFailure)
        repBuf(name) += Rep(p.fold(-1.0)(_.wallS), la, p)
    }
    def runRep(name: String, recordFailure: Boolean = true): Unit = {
      reset(name)
      // a build row times the build, not the heap the rows before it left
      if (familyBuilds.contains(name)) System.gc()
      timedRep(name, recordFailure)(run(name))
    }
    // untimed: the first run of a DAG pays code generation and JIT that
    // no later rep pays
    try {
      indexFamilyRows.foreach(run)
      indexFamilyRows.foreach(reset)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] index warmup failed: ${e.getMessage}")
    }
    // The memo builders run right after the index families, so the rows
    // that read their memos never pay a rebuild inside a timed rep.
    val memoBuilders =
      Seq("corpus_clean", "cur_dedup_clusters").filter(allRows.contains)
    val shuffledRows: Seq[String] = allRows.filterNot(n =>
      indexFamilyRows.contains(n) || memoBuilders.contains(n))
    for (rep <- 1 to reps) {
      val order = indexFamilyRows ++ memoBuilders ++
        new scala.util.Random(rep.toLong).shuffle(shuffledRows)
      order.foreach(n => runRep(n))
    }

    val tiebroken = mutable.LinkedHashSet.empty[String]
    locally {
      val tbStart = System.nanoTime()
      def withinBudget: Boolean =
        System.nanoTime() - tbStart < tiebreakS.toLong * 1000L * 1000 * 1000
      // relative spread, counted only above an absolute 0.5 s: sub-second
      // rows pass 1.3x on scheduler noise alone
      def spread(n: String): Double = {
        val ss = samples(n)
        if (ss.exists(_ < 0) || ss.isEmpty) 0.0
        else if (ss.max - ss.min < 0.5) 0.0
        else ss.max / math.max(ss.min, 1e-9)
      }
      // The index family reps as a unit, all or none: the composite row
      // sums the family's samples pass by pass, so a pass in which one
      // member failed to record is rolled back for all of them.
      def familyTiebreakPass(): Unit = {
        val pre = indexFamilyRows.map(n => n -> repBuf(n).length).toMap
        indexFamilyRows.foreach(n => runRep(n, recordFailure = false))
        if (indexFamilyRows.forall(n => repBuf(n).length == pre(n) + 1))
          tiebroken ++= indexFamilyRows
        else indexFamilyRows.foreach(n => repBuf(n).takeInPlace(pre(n)))
      }
      // the family always gets two more passes: its members are small
      // enough that noise below the 1.3x trigger still moves the composite
      for (_ <- 1 to 2) {
        if (withinBudget &&
            indexFamilyRows.forall(n => !samples(n).contains(-1.0)))
          familyTiebreakPass()
      }
      // up to three rounds over the rows still unstable, widest first
      var progressed = true
      for (_ <- 1 to 3 if progressed && withinBudget) {
        progressed = false
        val units = allRows.filter(spread(_) > 1.3).sortBy(n => -spread(n))
          .map(n => if (familyBuilds.contains(n)) indexFamilyRows else Seq(n))
        units.distinct.iterator.takeWhile(_ => withinBudget).foreach { unit =>
          if (unit == indexFamilyRows) familyTiebreakPass()
          else { runRep(unit.head, recordFailure = false); tiebroken += unit.head }
          progressed = true
        }
      }
    }

    val nogcSamples: Seq[(String, Seq[Double])] =
      if (only.isDefined) Nil
      else indexFamilyRows.map { n =>
        n -> (1 to 2).map(_ => { reset(n); attempt(s"nogc $n")(run(n)) })
          .map(_.fold(-1.0)(_.wallS))
      }

    if (only.forall(_.exists(indexColdRows.contains))) {
      val idxDir = s"target/bench_index/$sfName"
      try {
        Dedup.saveDedupIndex(spark, sfDir, s"$idxDir/dedup")
        Similarity.saveIvfIndex(spark, sfDir, s"$idxDir/ivf")
        for (_ <- 1 to reps) {
          // release only the two reloaded indexes: the cold rows read
          // every other artifact as the timed passes left it
          for (owner <- Seq(Dedup.Owner, Similarity.Owner))
            SessionArtifacts.release(spark, Some(sfDir), Some(owner))
          timedRep("index_load")(GraftSession.loadIndexes(spark, sfDir,
            s"$idxDir/dedup", s"$idxDir/ivf"))
          timedRep("dedup_minhash_lsh_cold")(run("dedup_minhash_lsh"))
          timedRep("sim_ivf_ann_cold")(run("sim_ivf_ann"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cold leg failed: ${e.getMessage}")
      }
    }

    val familySamples = indexFamilyRows.map(samples)
    if (familySamples.forall(_.nonEmpty)) {
      val n = familySamples.map(_.length).min
      repBuf(indexBuildRow) = mutable.ArrayBuffer.tabulate(n) { i =>
        val xs = familySamples.map(_(i))
        Rep(if (xs.contains(-1.0)) -1.0 else xs.sum,
          repBuf(indexFamilyRows.head)(i).load, None)
      }
    }
    val results: Seq[(String, Seq[Double])] =
      ((if (repBuf.contains(indexBuildRow)) Seq(indexBuildRow) else Nil) ++
        allRows ++ indexColdRows.filter(repBuf(_).nonEmpty))
        .map(n => n -> samples(n))

    val timed = results.map { case (k, ss) => k -> minOf(ss) }.filter(_._2 >= 0)
    val oracle = oracleTimes(sfName)
    val ratios = timed.collect { case (k, v) if oracle.contains(k) =>
      k -> r2(v / oracle(k))
    }
    val (baseCal, baseQ) = baselineBench(sfName)
    val calRatio = if (baseCal > 0 && calSt > 0) calSt / baseCal else 1.0
    val vsBase = timed.collect { case (k, v) if baseQ.getOrElse(k, 0.0) > 0 =>
      k -> r2(v / calRatio / baseQ(k))
    }
    def when(cond: Boolean)(kvs: (String, Any)*): ListMap[String, Any] =
      if (cond) ListMap(kvs: _*) else ListMap.empty
    val svdLine = when(ratios.nonEmpty)(
      "svd_geomean" -> r2(math.exp(
        ratios.map(r => math.log(math.max(r._2, 1e-6))).sum / ratios.size)),
      "svd_n" -> ratios.size)
    // the composite carries the families' seconds: count them once
    val common = timed.filter { case (k, _) =>
      baseQ.getOrElse(k, 0.0) > 0 && !familyBuilds.contains(k) }
    val vsbLine = when(vsBase.nonEmpty)(
      "vsb_total" -> r2(common.map(_._2).sum / calRatio /
        common.map(kv => baseQ(kv._1)).sum),
      "vsb_n" -> vsBase.size, "vsb_cal_ratio" -> r3(calRatio))

    def loads(n: String): Seq[Double] = repBuf(n).toSeq.map(_.load)
    val allLoads = results.flatMap { case (k, _) => loads(k) }.sorted
    val loadP90 =
      if (allLoads.isEmpty) 0.0
      else allLoads(math.min(allLoads.length - 1, (allLoads.length * 0.9).toInt))
    def mb(b: Long): Double = r2(b / 1048576.0)
    // per row with a successful rep: `f` of the profiles of those reps
    def perRow(f: Seq[Profile] => Any): ListMap[String, Any] = ListMap.from(
      results.map { case (k, _) => k -> repBuf(k).toSeq.flatMap(_.profile) }
        .collect { case (k, ps) if ps.nonEmpty => k -> f(ps) })
    val sidecar = ListMap[String, Any](
      "samples" -> ListMap.from(results.map { case (k, ss) => k -> ss.map(r3) }),
      "medians" -> ListMap.from(results.map { case (k, ss) => k -> r3(medianOf(ss)) }),
      "loadavg" -> ListMap.from(results.map { case (k, _) => k -> loads(k).map(r3) }),
      "reps" -> reps, "interleaved" -> true, "shuffled_passes" -> true,
      "tiebreak_rows" -> tiebroken.toSeq, "headline_stat" -> "min",
      // HygieneGateSpec rejects a committed sidecar from a subset run,
      // from fewer rows than the suite, or from a loaded host
      "rows" -> results.size, "subset" -> only.isDefined,
      "loadavg_p90" -> r3(loadP90)) ++
      when(nogcSamples.nonEmpty)("index_nogc" ->
        ListMap.from(nogcSamples.map { case (k, ss) => k -> ss.map(r3) })) ++
      ListMap("cal_st_sec" -> r3(calSt), "cal_mt_sec" -> r3(calMt),
        "cal_threads" -> threads) ++
      when(oracle.nonEmpty)("oracle" -> ListMap.from(oracle.toSeq.sortBy(_._1))) ++
      when(ratios.nonEmpty)("spark_vs_duckdb" -> ListMap.from(ratios)) ++
      when(vsBase.nonEmpty)("vs_baseline_normalized" -> ListMap.from(vsBase),
        "vsb_baseline_cal_st" -> baseCal) ++
      ListMap("shuffle_mb" -> perRow { ps =>
        val p = ps.minBy(_.wallS)
        ListMap("read" -> mb(p.shuffleReadBytes),
          "write" -> mb(p.shuffleWriteBytes), "spill" -> mb(p.spillBytes))
      }, "codegen" -> perRow { ps =>
        ListMap[String, Any]("compiles" -> ps.map(_.compiles).sum,
          "compile_s" -> r3(ps.map(_.compileS).sum))
      }, "profile" -> perRow { ps =>
        val p = ps.minBy(_.wallS)
        ListMap[String, Any]("jobs" -> p.jobs, "stages" -> p.stages.size,
          "tasks" -> p.tasks, "task_run_s" -> r3(p.taskRunS),
          "task_cpu_s" -> r3(p.taskCpuS))
      }, "sf" -> sfDir)
    try Json.write("bench_samples.json", sidecar)
    catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    val out = summaryLine(results, reps,
      ListMap("rss_mb" -> rssMb, "gc_ms" -> gcMs, "cal_st" -> r3(calSt),
        "cal_mt" -> r3(calMt)),
      svdLine, vsbLine, sfName)
    if (out.length > LineLimit)
      System.err.println(s"[bench] WARNING stdout line ${out.length} chars")
    GraftSession.release(spark) // unpin operator caches before teardown
    spark.stop()
    // last on purpose: nothing after the line but the build tool's footer
    println(out)
  }
}
