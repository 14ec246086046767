package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.t

/** Core relational operator inventory (SURVEY §2.4-§2.8): joins,
  * aggregations, sorts/ranks, set ops, and the flagship standings pipeline
  * (reference semantics at dags/projectde_dag.py:159-248 re-expressed as
  * union + conditional hash-aggregation + window rank).
  *
  * Scale design notes (100 TB):
  *  - Money sums go through DecimalType(18,2) so partial/final aggregation is
  *    exact and order-independent — the same plan hash-matches any oracle no
  *    matter how many executors combined partials.
  *  - groupBy keys are low-cardinality (flags, nations, clubs): partial
  *    (map-side) aggregation collapses each input partition to ~|keys| rows
  *    before the shuffle, so shuffle volume is O(partitions × keys), not
  *    O(rows).
  *  - Global row_number windows appear ONLY post-aggregation on small
  *    relations (≤ |clubs| / |nations| rows) — never over a fact table.
  *  - The full-outer join J1 joins two pre-aggregated sides (≤ 25 rows each);
  *    at scale AQE picks broadcast/SMJ as appropriate.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact order-independent money sum for DERIVED double values (products):
    * round each row to integer cents (one deterministic IEEE op on inputs
    * both engines share bit-for-bit), sum as long (exact, associative),
    * divide once at the end. Raw 2-decimal columns can go straight through
    * a DecimalType cast; derived products cannot — the double→decimal
    * rounding at the third decimal differs across engines often enough to
    * drift a 60k-row sum.
    */
  private def centSum(c: Column): Column =
    sum(round(c * 100).cast("long")).cast("double") / 100.0

  /** A1 — group-count (ref spark-scripts/spark-project.py:71-72). */
  def a1GroupCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  /** A2 — multi-sum aggregation, TPC-H Q1 shape
    * (ref spark-scripts/spark-project.py:89-92 generalized).
    * Decimal-exact sums, then cast to double for the oracle.
    */
  def a2GroupSum(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        centSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        centSum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"),
      )
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))

  /** A4 — post-aggregation derived column (ref dags/projectde_dag.py:229). */
  def a4PostAggDerived(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(
        count(lit(1)).as("customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"),
      )
      .withColumn("avg_bal", col("total_bal") / col("customers"))

  /** Synthetic deterministic "matches" fact derived from orders — the
    * testdata stand-in for the reference's scraped match table (SURVEY §2
    * determinism contract: scrape order / wall clock replaced by pure
    * arithmetic on stable keys).
    */
  private def matches(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      (col("o_custkey") % 20).as("home"),
      ((col("o_custkey") + 7) % 20).as("away"),
      (col("o_orderkey") % 5).as("hs"),
      ((col("o_orderkey") % 7) % 5).as("as_"),
    )

  /** U1 — union of home/away perspectives (ref dags/projectde_dag.py:164-222,
    * the two mirror-image loop bodies collapsed into unionByName).
    */
  def u1UnionPerspectives(spark: SparkSession, dir: String): DataFrame = {
    val m = matches(spark, dir)
    val home = m.select(col("home").as("club"), col("hs").as("gf"), col("as_").as("ga"))
    val away = m.select(col("away").as("club"), col("as_").as("gf"), col("hs").as("ga"))
    home.unionByName(away)
      .groupBy(col("club"))
      .agg(count(lit(1)).as("appearances"), sum(col("gf")).as("goals"))
  }

  /** A3 + U1 + O1 + O2 + X10 — the flagship standings pipeline
    * (ref dags/projectde_dag.py:159-248: imperative O(rows×clubs) fold
    * re-expressed as one declarative plan: union of perspectives →
    * conditional hash agg → multi-key sort → dense rank).
    * The global window ranks the POST-AGG relation (|clubs| = 20 rows) —
    * never the fact table — so the single-partition window stage is O(clubs).
    */
  def a3Standings(spark: SparkSession, dir: String): DataFrame =
    standingsOf(matches(spark, dir))

  /** Standings over any (home, away, hs, as_) matches relation — the
    * reusable pipeline (also property-tested in StandingsSpec).
    *
    * `keys` adds grouping/rank-partition columns (e.g. league): the rank
    * window is then partitioned — D2's 6-league fan-out becomes ONE plan
    * whose window never concentrates more than a league's clubs on a task.
    */
  def standingsOf(m: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val home = m.select(keyCols ++ Seq(col("home").as("club"),
      col("hs").as("gf"), col("as_").as("ga")): _*)
    val away = m.select(keyCols ++ Seq(col("away").as("club"),
      col("as_").as("gf"), col("hs").as("ga")): _*)
    // Null scores (unplayed matches) are excluded explicitly — the
    // reference only survives them by accident of filter order
    // (SURVEY §7.4 risk 5).
    val u = home.unionByName(away)
      .filter(col("gf").isNotNull && col("ga").isNotNull)
    val agg = u.groupBy(keyCols :+ col("club"): _*).agg(
      count(lit(1)).as("match"),
      sum(when(col("gf") > col("ga"), 1).otherwise(0)).as("win"),
      sum(when(col("gf") === col("ga"), 1).otherwise(0)).as("draw"),
      sum(when(col("gf") < col("ga"), 1).otherwise(0)).as("loss"),
      sum(col("gf")).as("goal_for"),
      sum(col("ga")).as("goal_against"),
      // X10: 3-way CASE points, computed inside the aggregate (replaces the
      // reference's per-row pandas apply at dags/projectde_dag.py:128-129).
      sum(when(col("gf") > col("ga"), 3)
        .when(col("gf") === col("ga"), 1).otherwise(0)).as("points"),
    )
    val withDiff = agg.withColumn("goal_diff", col("goal_for") - col("goal_against"))
    // O1 multi-key desc sort + O2 dense 1..N id, tiebreak club asc
    // (SURVEY §2 determinism contract (c)). Keyless callers rank the
    // post-agg |clubs|-row frame — pinned single partition, no
    // unpartitioned-window warning (r14).
    val rankW = Window.partitionBy(
      (if (keys.isEmpty) Seq(Bounded.pinned(col("club")))
       else keys.map(col)): _*).orderBy(
      col("points").desc, col("goal_for").desc, col("goal_against").desc,
      col("win").desc, col("draw").desc, col("loss").desc, col("club").asc)
    withDiff
      .withColumn("id", row_number().over(rankW))
      .select(keys ++ Seq("id", "club", "points", "match", "win", "draw",
        "loss", "goal_for", "goal_against", "goal_diff") map col: _*)
  }

  /** J1 — full-outer equi-join of two aggregated sides with coalesced key and
    * null-filled counts (ref spark-scripts/spark-project.py:75-80).
    */
  def j1FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .groupBy(col("c_nationkey").as("cnk"))
      .agg(count(lit(1)).as("customers"))
    val supp = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("suppliers"))
    cust.join(supp, cust("cnk") === supp("snk"), "full_outer")
      .select(
        coalesce(col("cnk"), col("snk")).as("nationkey"),
        coalesce(col("customers"), lit(0L)).as("customers"),
        coalesce(col("suppliers"), lit(0L)).as("suppliers"),
      )
  }

  /** J2 — key-existence probe as a left-semi join (ref hand-rolled list probe
    * at dags/projectde_dag.py:171,198; here expressed as the hash-join Spark
    * plans natively — at scale this broadcasts the distinct key side).
    */
  def j2SemiExists(spark: SparkSession, dir: String): DataFrame = {
    val bigSpenders = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000).select(col("o_custkey"))
    t(spark, dir, "customer")
      .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** J2 complement — anti join (NOT EXISTS). */
  def j2AntiNotExists(spark: SparkSession, dir: String): DataFrame = {
    val bigSpenders = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000).select(col("o_custkey"))
    t(spark, dir, "customer")
      .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"))
  }

  /** Range-bucket assignment for the two-phase rank: approxQuantile cut
    * points on the leading sort column → a `__bk` column ordered the same
    * way as the final sort (bucket 0 holds the first rows). Factored out so
    * the bucket math itself is testable against a real table's skew.
    */
  private[operators] def bucketAssign(df: DataFrame, leading: String,
      descending: Boolean, buckets: Int): DataFrame = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bs = df.stat.approxQuantile(leading, probs, 0.001).distinct.sorted
    if (bs.isEmpty) df.withColumn("__bk", lit(0))
    else {
      val arr = array(bs.toSeq.map(lit): _*)
      val bk = if (descending) size(filter(arr, _ > col(leading)))
               else size(filter(arr, _ < col(leading)))
      df.withColumn("__bk", bk)
    }
  }

  /** Dense global row_number over an arbitrary base relation WITHOUT a
    * single-partition window (`Window.orderBy` with no partitionBy funnels
    * the whole table through one task — the classic non-scalable rank).
    *
    * Two-phase rank: (1) bucket rows by driver-estimated quantile
    * boundaries of the leading sort column — the boundaries become plan
    * LITERALS, so every subtree sees the same assignment and the result
    * is deterministic regardless of how the estimate sampled; rows tied
    * on the leading column share a bucket, so bucket order composes with
    * the full tiebreak ordering. (2) row_number within each bucket (the
    * window is partitioned — parallel), then add broadcast per-bucket
    * offsets (a prefix sum over ≤32 bucket rows). Costs one extra
    * column-pruned pass for the quantile estimate and one for the counts;
    * no stage ever holds more than ~1/buckets of the data.
    *
    * Requires a non-null numeric leading column. Degenerates to a single
    * bucket (the old global window) only if the column is constant.
    */
  private[operators] def scalableRowNumber(df: DataFrame, leading: String,
      descending: Boolean, sortCols: Seq[Column], outCol: String): DataFrame = {
    val bucketed = bucketAssign(df, leading, descending, 32)
    val local = bucketed.withColumn("__lp",
      row_number().over(Window.partitionBy(col("__bk")).orderBy(sortCols: _*)))
    val counts = bucketed.groupBy(col("__bk")).agg(count(lit(1)).as("__cnt"))
    // prefix-sum window over ≤32 aggregated rows — never base
    // data; pinned single partition (same frame, warning-free)
    val offs = counts.withColumn("__off",
      coalesce(sum(col("__cnt")).over(
        Window.partitionBy(Bounded.pinned(col("__bk")))
          .orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bk"), col("__off"))
    local.join(broadcast(offs), "__bk")
      .withColumn(outCol, (col("__lp") + col("__off")).cast("int"))
      .drop("__bk", "__lp", "__off")
  }

  /** O1 — multi-key desc sort with total-order tiebreak, position made
    * explicit via row_number so the result content encodes the order
    * (ref dags/projectde_dag.py:224-225). Ranked over the FULL base table,
    * so it uses the two-phase rank — no single-partition WindowExec.
    */
  def o1MultiKeySort(spark: SparkSession, dir: String): DataFrame =
    scalableRowNumber(
      t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal")),
      leading = "s_acctbal", descending = true,
      sortCols = Seq(col("s_acctbal").desc, col("s_nationkey").asc,
        col("s_suppkey").asc),
      outCol = "pos")

  /** O2 — dense sequential rank id over an aggregated relation
    * (ref dags/projectde_dag.py:228).
    */
  def o2RankId(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n"))
    // ≤|nations| post-agg rows: WindowExec-free rank stamp
    Bounded.rankBounded(counts, Seq(-col("n"), col("nationkey")), "rank_id")
  }

  /** O3/S8 — ordered LIMIT (top-k). Spark plans TakeOrderedAndProject:
    * per-partition heap + driver merge, no global sort — the scale-correct
    * top-k (ref sql/ingest-retail.sql:2, spark-project.py:67).
    */
  def o3TopKLimit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  /** O4 — general window-function surface (lag/lead/running sum) the
    * engine exposes beyond the reference's rank-only usage (SURVEY §2.6
    * notes `Window.partitionBy.orderBy.rowsBetween` as the surface).
    * Running sum in exact cents so frame accumulation is engine-agnostic.
    */
  def o4WindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("order_seq", row_number().over(w))
      .withColumn("running_spend",
        (sum(round(col("o_totalprice") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / 100.0))
      .drop("o_orderdate")
  }

  /** U2/U3 — intersect / except (engine built-ins; SURVEY §2.7 note). */
  def u2Intersect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  def u3Except(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(spark, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_nationkey").as("nationkey")))

  /** A5 — distinct aggregation (engine note in SURVEY §2.5). */
  def a5DistinctCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))

  /** Q5-shape star join — the multi-join pattern that decides 100 TB
    * viability: dimension tables (region/nation/supplier) are explicitly
    * broadcast so the only shuffles are the orders⋈lineitem equi-join and
    * the final low-cardinality aggregation; filters and pruned columns
    * reach every scan. Revenue in exact cents.
    */
  def q5StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val supplier = t(spark, dir, "supplier")
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val lineitem = t(spark, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(centSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** A6 — salted two-phase aggregation: the skew-mitigation pattern for
    * hot keys. Phase 1 groups on (key, salt) so a hot key's rows spread
    * over `salts` reducers; phase 2 merges the partials. Results are
    * EXACTLY a plain GROUP BY (the oracle runs one) — the salt is
    * internal. `spark.sql.shuffle.partitions`-sized salts would be the
    * production default; 16 here. (AQE skew-join handles the join-side
    * equivalent automatically; this is the aggregation-side technique.)
    */
  def a6SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("l_quantity"))).as("pq"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n_items"),
        sum(col("pq")).cast("double").as("sum_qty"))

  /** One-time bucketed INGEST for J3, memoized per (application, source
    * dir): the write-side cost of a bucketed layout is paid once at
    * ingest, not per query — mixing it into the join query both
    * misattributes the cost in benchmarks and re-does driver-side
    * filesystem work on every invocation.
    */
  private val j3Lock = new Object
  private var j3Ingested: Option[(String, String)] = None
  private def ensureBucketedTables(spark: SparkSession, dir: String): Unit =
    j3Lock.synchronized {
      val key = (spark.sparkContext.applicationId, dir)
      if (!j3Ingested.contains(key)) {
        // default warehouse dir (spark-warehouse under CWD) — warehouse.dir
        // is a static conf and cannot move per-query. The in-memory catalog
        // is per-JVM but table locations persist on disk: drop both
        // explicitly or a rerun hits LOCATION_ALREADY_EXISTS.
        spark.sql("CREATE DATABASE IF NOT EXISTS graft_bk")
        Seq("lineitem_b", "orders_b").foreach { tbl =>
          spark.sql(s"DROP TABLE IF EXISTS graft_bk.$tbl")
          val loc = new java.io.File(
            spark.conf.get("spark.sql.warehouse.dir")
              .stripPrefix("file:") + s"/graft_bk.db/$tbl")
          if (loc.exists()) {
            import scala.reflect.io.Directory
            new Directory(loc).deleteRecursively()
          }
        }
        t(spark, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_bk.lineitem_b")
        t(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_bk.orders_b")
        j3Ingested = Some(key)
      }
    }

  /** J3 — bucket-co-located join: both fact tables written bucketed by the
    * join key (once, at ingest — see ensureBucketedTables), so the join
    * needs NO shuffle of either side (the physical plan has no Exchange
    * above the scans). At 100 TB this is the difference between
    * re-shuffling petabytes per join and reading co-located buckets.
    */
  def j3BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketedTables(spark, dir)
    val li = spark.table("graft_bk.lineitem_b")
    val o = spark.table("graft_bk.orders_b")
    // merge hint: at test scale AQE would broadcast the small side and
    // never touch the bucket layout; forcing sort-merge shows the real
    // plan shape — bucketed scans, ZERO exchanges under the join.
    li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(centSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** A7 — exact percentiles (oracle-able: Spark `percentile` and DuckDB
    * `quantile_cont` share the interpolated definition) plus approximate
    * sketch aggregates (approx_count_distinct / approx_percentile —
    * engine-specific sketches, so rows-only checked; the scale story is
    * that they are single-pass and mergeable).
    */
  def a7Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("round(percentile(o_totalprice, 0.5), 4)").as("p50"),
        expr("round(percentile(o_totalprice, 0.9), 4)").as("p90"))

  /** A7 PRODUCTION SURFACE — approx_percentile, the percentile to run at
    * 100 TB. Exact `percentile` (a7Percentiles above) buffers EVERY value
    * of a group in one aggregation buffer — unbounded memory on a large
    * group, the one aggregate in the library that cannot survive scale.
    * approx_percentile is a mergeable quantile sketch: bounded memory
    * (~accuracy entries per group), map-side partials, one pass — the
    * same execution shape as any hash aggregate. `accuracy = 10000`
    * bounds rank error at ~n/10000 per group. a7Percentiles remains the
    * ORACLE TWIN (exact, DuckDB-checkable at test scale); use THIS form
    * in production. PercentileSpec pins the sketch within 1% relative
    * error of exact on every group; the oracle checks the same contract
    * via a7_percentiles_approx.
    */
  def a7PercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50_approx"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90_approx"))

  /** Oracle form of the production percentile: sketch values are
    * engine-specific, so the query publishes the exact percentiles plus
    * the sketch-within-1%-relative-error CONTRACT booleans (the a8
    * pattern) — fully hash-checkable by DuckDB.
    */
  def a7PercentilesApproxContract(spark: SparkSession, dir: String): DataFrame =
    a7PercentilesApprox(spark, dir)
      .join(a7Percentiles(spark, dir), "o_orderstatus")
      .select(col("o_orderstatus"), col("p50"), col("p90"),
        (abs(col("p50_approx") - col("p50")) / col("p50") <= 0.01).as("p50_ok"),
        (abs(col("p90_approx") - col("p90")) / col("p90") <= 0.01).as("p90_ok"))

  /** A8 — approximate sketch aggregates WITH a checkable error contract.
    * HLL / KLL sketch values are engine-specific (DuckDB cannot reproduce
    * Spark's registers), so the query publishes the CONTRACT instead of
    * the raw estimates: per group, the exact distinct count plus booleans
    * asserting the sketches land within 5% relative error of the exact
    * answers — which the oracle can check (`TRUE AS hll_ok`). The exact
    * subquery exists only to evaluate the contract; the production path
    * is the approx frame alone (single-pass, mergeable, no
    * count-distinct expansion).
    */
  def a8ApproxAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        expr("approx_percentile(l_extendedprice, 0.5)").as("approx_p50"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_p50"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) /
          col("exact_orders") <= 0.05).as("hll_ok"),
        (abs(col("approx_p50") - col("exact_p50")) /
          col("exact_p50") <= 0.05).as("p50_ok"))
  }

  /** O5 — top-3 orders per priority via the NATIVE TopKPerKey operator
    * (plans/TopK.scala: marker Expression → TopKRewrite → TopKPerKey
    * logical node → TopKStrategy → two-phase TopKPerKeyExec). Unlike the
    * window idiom (row_number over a per-key sort of every row), the
    * physical plan is partial bounded-heaps → exchange carrying ≤ k rows
    * per (partition, key) → final heaps — no sort anywhere.
    */
  def o5TopKPerKey(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .filter(call_function("graft_topk", lit(3),
        col("o_totalprice").cast("double"), col("o_orderkey").cast("long"),
        col("o_orderpriority")))
  }

  /** O11 — latest record per key (the `QUALIFY row_number() = 1` classic):
    * each customer's most recent order. Planned by the native TopKPerKey
    * operator with k=1 — per-partition single-slot heaps BEFORE the
    * exchange, so the shuffle carries at most |keys| rows per partition
    * and nothing is ever sorted per key (the window idiom shuffles and
    * sorts every order per customer). Tie-break on o_orderkey makes
    * "latest" a well-defined row.
    */
  def o11LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .filter(call_function("graft_topk", lit(1),
        col("o_orderdate").cast("timestamp").cast("long"), lit("desc"),
        col("o_orderkey").cast("long"), col("o_custkey")))
  }

  /** Q6-shape selective aggregate: every predicate reaches the parquet
    * scan (PushedFilters), only 3 columns are read, and the whole plan is
    * scan → partial agg → single-row final agg — the minimal-IO shape.
    */
  def q6SelectiveAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(centSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** A9 — ROLLUP with grouping_id: the sub/grand-total lattice computed in
    * one pass (Expand + one aggregation — no per-level re-scan). Cent-exact
    * money so totals match any engine bit-for-bit.
    */
  def a9Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"),
        grouping_id().as("gid"))

  /** A10 — pivot with an EXPLICIT value list (the list is what makes the
    * output schema static and the plan a single groupBy — Spark without
    * the list runs an extra distinct job to discover columns; at 100 TB
    * the pivot values must be declared, not discovered).
    */
  def a10Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .withColumnsRenamed(Map(
        "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
        "4-NOT SPECIFIED" -> "unspec", "5-LOW" -> "low"))
      // pivot yields NULL for an empty (status, priority) cell; the
      // conditional-aggregation twin yields 0 — normalize
      .select(col("o_orderstatus") +:
        Seq("urgent", "high", "medium", "unspec", "low")
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  /** A18 — unpivot (melt), the inverse of [[a10Pivot]]: a wide per-status
    * metrics row reshaped to long (metric, value) — the feed shape a
    * dashboard or drift monitor consumes. Spark's native `unpivot`
    * (Expand under the hood — |metrics| output rows per input row, ZERO
    * shuffle beyond the upstream aggregate). Values are exact in double:
    * a count and a cent-sum both sit far below 2^53.
    */
  def a18Unpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"),
        countDistinct(col("o_custkey")).cast("double").as("n_customers"))
      .unpivot(Array(col("o_orderstatus")),
        Array(col("n_orders"), col("total_price"), col("n_customers")),
        "metric", "value")

  /** O6 — the remaining ranking-function surface (ntile / percent_rank /
    * cume_dist) over a POST-AGGREGATION relation (≤ nations rows), so the
    * window is cheap by construction — the library's standing rule that
    * global windows only ever run above an aggregate.
    */
  def o6WindowExtras(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n"))
    // ≤|nations| post-agg rows; pinned single partition (same funnel,
    // same frame, no unpartitioned-window warning)
    val w = Window.partitionBy(Bounded.pinned(col("nationkey")))
      .orderBy(col("n").desc, col("nationkey").asc)
    counts
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
  }

  /** A11 — CUBE with grouping_id: all 2^n grouping sets of the lattice in
    * one Expand + aggregate pass. The fact is scanned ONCE; Expand
    * multiplies rows only at the aggregation's input, where map-side
    * partials collapse them immediately (the alternative — one scan per
    * grouping set — reads the 100 TB fact 2^n times).
    */
  def a11Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"),
        grouping_id().as("gid"))

  /** A14 — explicit GROUPING SETS: exactly the requested lattice levels
    * ((status, priority), (status), (priority)) in one Expand + aggregate
    * pass — unlike ROLLUP/CUBE, no unwanted level is computed then thrown
    * away, and the grand total (absent from the list) is never aggregated
    * at all. The fact is scanned once; Expand multiplies rows only at the
    * aggregation input where map-side partials collapse them.
    */
  def a14GroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"),
        grouping_id().as("gid"))

  /** A15 bin width and top bin id, interpolated into the oracle. */
  private[operators] val HistogramWidth = 25000.0
  private[operators] val HistogramTop = 11

  /** A15 — fixed-bin histogram (width_bucket semantics): equal-width
    * bins with the top bin absorbing the tail. The bucket id is a per-row
    * map-side expression, so the plan is exactly a group-count on a
    * small integer key — partial aggregation collapses each partition to
    * ≤ 12 rows before the (tiny) shuffle; bin edges are published so
    * the result is self-describing.
    */
  def a15Histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(least(floor(col("o_totalprice") / HistogramWidth),
        lit(HistogramTop.toDouble))
        .cast("int").as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"))
      .withColumn("lo", col("bucket") * HistogramWidth)

  /** O8 page size, interpolated into the oracle. */
  private[operators] val KeysetPageSize = 100

  /** O8 — keyset (cursor) pagination: the page AFTER a (date, key) cursor
    * under a total order on (o_orderdate, o_orderkey). The scale point vs
    * OFFSET pagination: OFFSET n must produce and discard n rows — page
    * 10,000 of a 100 TB scan sorts and skips half the table — while the
    * keyset predicate is a pushable range filter (parquet row groups
    * before the cursor date never leave the scan) and the page itself is
    * TakeOrderedAndProject: per-partition heaps of [[KeysetPageSize]]
    * rows, never a global sort.
    */
  def o8KeysetPagination(spark: SparkSession, dir: String): DataFrame = {
    val curDate = expr("TIMESTAMP '1997-03-15 00:00:00'")
    val curKey = 1000L
    t(spark, dir, "orders")
      .filter(col("o_orderdate") > curDate ||
        (col("o_orderdate") === curDate && col("o_orderkey") > curKey))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .limit(KeysetPageSize)
  }

  /** O7 — rolling window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT
    * ROW): last-3-orders spend per customer. The frame sums exact integer
    * cents; the rolling average is emitted as FLOOR'd cents so the
    * division point is engine-agnostic. Partitioned by customer — the
    * window never sees more than one customer's orders per task.
    */
  def o7RollingFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val f = w.rowsBetween(-2, Window.currentRow)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("roll_n", count(lit(1)).over(f))
      .withColumn("roll_spend", sum(col("cents")).over(f).cast("double") / 100.0)
      .withColumn("roll_avg_cents",
        floor(sum(col("cents")).over(f).cast("double") / col("roll_n"))
          .cast("long"))
      .drop("cents", "o_orderdate")
  }

  /** J5 — bloom-filter-pruned join. Build a compact bloom sketch of the
    * dimension's join keys (distributed `stat.bloomFilter` — a
    * treeAggregate of bit arrays, no row collect; ~1.2 MB per 1M keys at
    * 1% fpp), broadcast it, and drop non-matching fact rows BEFORE the
    * shuffle; the exact semi join afterwards removes the ≤1% false
    * positives, so results are identical to the plain join. At 100 TB
    * this shuffles only the ~matching slice of the fact instead of all of
    * it. Spark's runtime row-level filters
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) apply the same
    * rewrite automatically under AQE; this operator is the explicit,
    * deterministic form the library exposes.
    *
    * Keys of ANY type are supported: both sides are hashed with
    * `xxhash64` before the sketch is built/probed, so string/decimal/
    * binary keys work identically to integral ones (the former
    * `cast("long")` silently nulled non-numeric keys under ANSI-off and
    * returned an empty result). `xxhash64` is TYPE-sensitive — an Int 5
    * and a Long 5 hash differently — so when the two key types differ
    * both sides are first cast to a common type (integral→long,
    * numeric→double: join-equal values cast to equal doubles, and a
    * collision only costs a bloom false positive that the trailing
    * semi-join removes). Differing non-numeric types are rejected with a
    * descriptive error rather than silently returning an empty result.
    *
    * Pass `expectedNumItems` when the dim cardinality is already known
    * (or cheaply estimable) to skip the sizing pass over the dim side;
    * the default `-1` counts it. The value is trusted: the sketch's 1%
    * false-positive rate only holds when `expectedNumItems >=` the true key
    * cardinality — an underestimate degrades the prefilter's selectivity
    * (never correctness; the trailing semi-join is exact), an
    * overestimate just allocates a bigger sketch.
    */
  def bloomPrunedSemiJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      expectedNumItems: Long = -1L): DataFrame = {
    require(expectedNumItems != 0L,
      "bloomPrunedSemiJoin: expectedNumItems must be positive (or -1 to count the dim side)")
    val spark = fact.sparkSession
    graft.plans.GraftFunctions.register(spark)
    import org.apache.spark.sql.types._
    val (ft, dt) = (fact.schema(factKey).dataType, dim.schema(dimKey).dataType)
    val common: DataType = (ft, dt) match {
      case (a, b) if a == b => a
      case (_: ByteType | _: ShortType | _: IntegerType | _: LongType,
            _: ByteType | _: ShortType | _: IntegerType | _: LongType) =>
        LongType
      case (_: NumericType, _: NumericType) => DoubleType
      case _ => throw new IllegalArgumentException(
        s"bloomPrunedSemiJoin: key types differ and are not both numeric " +
          s"($factKey: $ft vs $dimKey: $dt) — cast them to a common type first, " +
          "or every bloom probe would miss and the join would silently return empty")
    }
    val keys = dim.select(col(dimKey))
    val nKeys =
      if (expectedNumItems > 0) expectedNumItems else keys.count()
    if (nKeys == 0) {
      // Empty dim ⇒ the exact semi-join result is empty; short-circuit
      // instead of building a sketch over zero rows (stat.bloomFilter's
      // zero-row sketch serializes a null bitmap and the probe NPEs).
      // filter(false) keeps the fact's schema and folds to an empty
      // LocalRelation at optimization time.
      fact.filter(lit(false))
    } else {
      val bloom = keys.select(xxhash64(col(dimKey).cast(common)).as("h"))
        .stat.bloomFilter("h", nKeys, 0.01)
      val bytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      // Spark's own BloomFilterMightContain predicate (codegen'd; the
      // sketch is a foldable binary literal riding in the plan — exactly
      // how AQE's runtime row-level filter ships it to executors)
      fact.filter(call_function("graft_might_contain",
          lit(bytes), xxhash64(col(factKey).cast(common))))
        .join(keys, col(factKey) === col(dimKey), "left_semi")
    }
  }

  def j5BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    bloomPrunedSemiJoin(t(spark, dir, "orders"), dim, "o_custkey", "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        centSum(col("o_totalprice")).as("total_price"))
  }

  /** U4 — incremental upsert (merge): the scale-correct replacement for
    * the reference's drop-and-recreate reloads (dags/projectde_dag.py:
    * 144-150). Apply a changed-rows delta over the base — delta wins on
    * key collision, untouched base rows survive — expressed as
    * delta ∪ (base ⟕anti delta.keys): one shuffle on the key (AQE
    * broadcasts the anti side when the delta is small, the common case),
    * and nothing rewrites unchanged data (pairs with the
    * dynamic-partition-overwrite write mode pinned in SourcesSpec).
    */
  def upsert(base: DataFrame, delta: DataFrame, key: String): DataFrame =
    delta.unionByName(base.join(delta.select(key), Seq(key), "left_anti"))

  def u4Upsert(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
    val delta = base.filter(col("c_custkey") % 13 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("c_mktsegment", lit("RELOADED"))
    upsert(base, delta, "c_custkey")
  }

  /** U6 — CDC APPLY: fold a change stream with explicit ops (I/U/D) over
    * a base snapshot — the lakehouse MERGE pattern [[upsert]]'s
    * insert/update-only shape cannot express, because deletes must REMOVE
    * base rows. delta wins on key collision, `D` rows erase, untouched
    * base survives: `(delta where op != 'D') ∪ (base ⟕anti delta.keys)` —
    * the anti join covers updates AND deletes in one pass, so the whole
    * apply is ONE shuffle on the key (AQE broadcasts the delta-key side
    * when the batch is small — the overwhelmingly common case).
    *
    * Latest-wins ordering inside a batch is the CALLER's contract (ship
    * one row per key, e.g. via [[graft.streaming.EventConsumer
    * .batchUserProfile]]-style last-event election); applying a
    * multi-version batch here would make the result depend on row order.
    */
  def cdcApply(base: DataFrame, delta: DataFrame, key: String): DataFrame =
    delta.filter(col("_op") =!= "D").drop("_op")
      .unionByName(base.join(delta.select(key), Seq(key), "left_anti"))

  def u6CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
    // deterministic synthetic change batch — every 17th key deleted,
    // every remaining 13th updated, every remaining 19th cloned to a new
    // key — derived in ONE pass with a D > U > I priority CASE so the
    // batch honors the one-row-per-key contract (and the plan scans the
    // base once for the delta, not once per op slice)
    val delta = base
      .withColumn("_op", when(col("c_custkey") % 17 === 0, "D")
        .when(col("c_custkey") % 13 === 0, "U")
        .when(col("c_custkey") % 19 === 0, "I"))
      .filter(col("_op").isNotNull)
      .select(
        when(col("_op") === "I", col("c_custkey") + 1000000L)
          .otherwise(col("c_custkey")).as("c_custkey"),
        col("c_name"),
        when(col("_op") === "U", col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("_op") === "I", lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        col("_op"))
    cdcApply(base, delta, "c_custkey")
  }

  /** U7 — incremental aggregate maintenance (materialized-view merge):
    * keep a per-key aggregate table current by folding a new fact batch's
    * PARTIAL aggregate states into the stored state — never rescanning
    * the base facts. Sound because count/sum/min/max are commutative
    * monoids: merge = `union states → re-aggregate`, an O(|keys|)
    * shuffle instead of the O(|facts|) recompute. At 100 TB that is the
    * difference between a seconds-long maintenance tick per arriving
    * batch and a full-table pass; the state table is itself partitioned
    * on the key, so successive merges co-locate.
    *
    * Money lives as integer CENTS (long) INSIDE the state so state
    * merging is exact integer addition — associative under any merge
    * order, partitioning, or batch arrival sequence. The single
    * cents→double division happens once at emit ([[centSum]]'s contract,
    * extended across merges).
    */
  def orderAggState(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))

  /** Fold any number of [[orderAggState]] frames into one state. */
  def mergeOrderAggStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("spend_cents")).as("spend_cents"),
        min(col("first_order")).as("first_order"),
        max(col("last_order")).as("last_order"))

  def u7IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    // deterministic batch split: every 5th order arrives as the "new"
    // batch; the merged state must equal the single-pass recompute over
    // ALL orders — which is exactly what the oracle computes
    val base = orders.filter(col("o_orderkey") % 5 =!= 0)
    val delta = orders.filter(col("o_orderkey") % 5 === 0)
    mergeOrderAggStates(Seq(orderAggState(base), orderAggState(delta)))
      .select(col("o_custkey"), col("n_orders"),
        (col("spend_cents").cast("double") / 100.0).as("total_spend"),
        col("first_order"), col("last_order"))
  }

  /** A17 — partitioned HLL distinct-count maintenance: one Datasketches
    * HLL sketch per day (the stored, mergeable artifact), union-merged at
    * query time for an arbitrary day range. The nightly job appends ONE
    * sketch row per partition; a range distinct-count then reads
    * |days| sketch rows instead of re-scanning the raw facts — the only
    * way "distinct users last N days" stays sub-second over 100 TB of
    * events. Spark's `hll_sketch_agg`/`hll_union_agg` are Apache
    * Datasketches HllSketch under the hood, so the stored bytes are
    * portable across engines that speak Datasketches.
    *
    * Output is the a8-style CONTRACT (exact count + within-bound
    * boolean), not the raw estimate — the estimate's exact value is
    * implementation-specific, the ≤2% error bound at lgK=12 is the
    * published guarantee (bounded here at 5%).
    */
  def a17HllPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("2024-01-08").cast("date")
    val hi = lit("2024-01-21").cast("date")
    val ev = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .filter(col("day").between(lo, hi))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val est = daily.agg(count(lit(1)).as("range_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact)
      .select(col("range_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) / col("exact_users") <= 0.05)
          .as("hll_ok"))
  }

  /** A19 — partitioned histogram maintenance + range quantiles: the
    * quantile sibling of [[a17HllPartitioned]]. The nightly job appends
    * one (day, bin, count) row per fixed-width value bucket (the
    * [[Profiling.DriftBucketWidth]] binning dq_drift already uses —
    * integer bucket ids, so the stored artifact is engine-exact and
    * MERGEABLE by plain addition); a range quantile query then merges
    * |days|×|bins| tiny rows and walks the cumulative histogram instead
    * of sorting the raw facts — how p50/p90/p99 dashboards stay
    * sub-second over 100 TB of history.
    *
    * Output is the a8/a17-style CONTRACT: the histogram estimates
    * (bin lower bounds — exact multiples of the width) next to booleans
    * bounding them against the exact interpolated percentile within
    * 2×width (the histogram method's published error bound; exact
    * values are computed only to CHECK the bound, the production query
    * never touches raw facts). Rank thresholds are pure integer
    * arithmetic (`(n·q + 99) div 100`), never `n × 0.99` — 0.99 has no
    * exact binary form and a ulp would flip a ceiling.
    *
    * Scale shape: the daily artifact is a partial+final count on a
    * (day, small-int) key; the merge is a sum over ≤ |bins| rows; the
    * cumulative walk is a window over that already-reduced ≤ 11-row
    * frame (bounded by construction, never the fact).
    */
  def a19HistogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("2024-01-08").cast("date")
    val hi = lit("2024-01-21").cast("date")
    val w = Profiling.DriftBucketWidth
    val ev = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("value"))
      .filter(col("day").between(lo, hi))
    // the stored nightly artifact: one row per (day, bin)
    val daily = ev.groupBy(col("day"),
        least(floor(col("value") / w), lit(Profiling.DriftBuckets))
          .cast("int").as("bin"))
      .agg(count(lit(1)).as("n"))
    val merged = daily.groupBy(col("bin")).agg(sum(col("n")).as("n"))
    // both windows run over the ALREADY-REDUCED <= |bins|+1-row frame
    // (never the fact); n_values rides the same frame so the whole
    // estimate side stays ONE scan of the stored artifact. Pinned
    // single partition — same frame, no unpartitioned-window warning.
    val wBins = org.apache.spark.sql.expressions.Window
      .partitionBy(Bounded.pinned(col("bin")))
    val cum = merged
      .withColumn("cum", sum(col("n")).over(wBins.orderBy(col("bin"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("n_values", sum(col("n")).over(wBins))
    val est = cum
      .agg(max(col("n_values")).as("n_values"),
        min(when(col("cum") >= expr("(n_values * 50 + 99) div 100"),
          col("bin"))).as("b50"),
        min(when(col("cum") >= expr("(n_values * 90 + 99) div 100"),
          col("bin"))).as("b90"),
        min(when(col("cum") >= expr("(n_values * 99 + 99) div 100"),
          col("bin"))).as("b99"))
    // the exact side is the CONTRACT CHECK only (the production query
    // answers from the artifact); range_days rides this scan for free
    val exact = ev.agg(
      countDistinct(col("day")).as("range_days"),
      expr("percentile(value, 0.5D)").as("x50"),
      expr("percentile(value, 0.9D)").as("x90"),
      expr("percentile(value, 0.99D)").as("x99"))
    est.join(broadcast(exact))
      .select(col("range_days"), col("n_values"),
        (col("b50").cast("double") * w).as("p50_est"),
        (col("b90").cast("double") * w).as("p90_est"),
        (col("b99").cast("double") * w).as("p99_est"),
        (abs(col("b50").cast("double") * w - col("x50")) <= 2.0 * w)
          .as("p50_ok"),
        (abs(col("b90").cast("double") * w - col("x90")) <= 2.0 * w)
          .as("p90_ok"),
        (abs(col("b99").cast("double") * w - col("x99")) <= 2.0 * w)
          .as("p99_ok"))
  }

  /** J6 — salted skew join: when one fact key floods a partition and the
    * dim side is too big to broadcast, salt the fact (deterministic
    * spread: hash of a high-cardinality sibling column mod R = 8) and
    * replicate each dim row R ways — the hot key's rows now land on R
    * partitions instead of one. AQE's skew-join split is the automatic
    * form (it splits oversized partitions at runtime); this is the
    * explicit, planner-independent one for pipelines that must pin their
    * shape. R multiplies only the DIM side (small), never the fact.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, spreadCol: String): DataFrame = {
    val saltedFact = fact.withColumn("salt", pmod(hash(col(spreadCol)), lit(8)))
    val saltedDim = dim.withColumn("salt", explode(expr("sequence(0, 7)")))
    saltedFact.join(saltedDim,
      saltedFact(factKey) === saltedDim(dimKey) &&
        saltedFact("salt") === saltedDim("salt"))
      .drop("salt")
  }

  def j6SaltedJoin(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount")),
      t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
      factKey = "l_suppkey", dimKey = "s_suppkey", spreadCol = "l_orderkey")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(centSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))

  /** J7 — null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing, the semantics ETL needs when
    * NULL is a real category ("unknown"). Still a hash-joinable equality
    * — Spark plans the same shuffled/broadcast hash join, no fallback to
    * theta-join. Keys here are derived (every 5th nation → NULL) so the
    * oracle exercises NULL↔NULL matches deterministically.
    */
  def j7NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    def nullableKey(c: Column): Column =
      when(c % 5 === 0, lit(null)).otherwise(c)
    val cust = t(spark, dir, "customer")
      .groupBy(nullableKey(col("c_nationkey")).as("nk"))
      .agg(count(lit(1)).as("customers"))
    val supp = t(spark, dir, "supplier")
      .groupBy(nullableKey(col("s_nationkey")).as("snk"))
      .agg(count(lit(1)).as("suppliers"))
    cust.join(supp, col("nk") <=> col("snk"))
      .select(col("nk").as("nationkey"), col("customers"), col("suppliers"))
  }

  /** F6 — scalar-subquery filter: rows above the global average. The
    * 1-row aggregate broadcasts into the filter (no driver collect, no
    * second pass reading the value into literals); the average is an
    * exact decimal so the comparison boundary is engine-identical.
    */
  def f6ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val avgBal = t(spark, dir, "customer")
      .agg((sum(dec(col("c_acctbal"))) / count(lit(1))).as("avg_bal"))
    t(spark, dir, "customer")
      .join(broadcast(avgBal))
      .filter(dec(col("c_acctbal")) > col("avg_bal"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  /** A12 — ordered string aggregation (the LISTAGG / string_agg
    * surface). `collect_list` is order-nondeterministic under shuffle,
    * so the list is `array_sort`ed before joining — deterministic output
    * at any parallelism. Per-key payloads stay bounded (suppliers per
    * nation), the rule for any collect_* at scale.
    */
  def a12StringAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_list(col("s_name")))).as("names"))

  /** A13 — percent-of-total (ratio_to_report): each nation's share of
    * total revenue. The unpartitioned window runs over the ALREADY
    * AGGREGATED relation (≤ |nations| rows — the library's standing rule
    * for global windows); shares divide exact cent-sums, rounded once at
    * emit.
    */
  def a13PctOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val perNation = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(sum(dec(col("c_acctbal"))).as("bal"))
    perNation
      // total as an exact decimal sum (order-independent), the share as a
      // single IEEE double division — identical bits on any engine
      .withColumn("total",
        sum(col("bal")).over(
          Window.partitionBy(Bounded.pinned(col("nationkey"))))
          .cast("double"))
      .select(col("nationkey"), col("bal").cast("double").as("bal"),
        round(col("bal").cast("double") * 100 / col("total"), 6)
          .as("pct_of_total"))
  }

  /** J8 — fuzzy dimension match: map dirty lookup values to their closest
    * dimension row by Levenshtein distance (deterministic tie-break on the
    * name). The probe set here is derived from the dim itself (each name
    * with its 2nd character dropped) so the oracle is self-contained; in
    * production the probes are the dirty side of an entity-resolution
    * step. Plan shape: the DIM side broadcasts (a dimension by
    * definition fits), the probe side streams through a broadcast
    * nested-loop + per-probe min — cost |probes|×|dim| edit distances,
    * the right shape when the dim is small; for dim-×-dim-scale fuzzy
    * matching the LSH machinery ([[graft.plans.LshJoin]]) prunes
    * candidates first. `min(struct(...))` picks (smallest distance,
    * lexicographically-first name) in one agg — no window, no sort.
    */
  def j8FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation").select(col("n_name"))
    val probes = nation.select(
      concat(substring(col("n_name"), 1, 1), expr("substring(n_name, 3)"))
        .as("probe"))
    probes.join(broadcast(nation))
      .withColumn("dist", levenshtein(col("probe"), col("n_name")))
      .groupBy(col("probe"))
      .agg(min(struct(col("dist"), col("n_name"))).as("m"))
      .select(col("probe"), col("m.n_name").as("matched"),
        col("m.dist").as("dist"))
  }

  /** A16 — exact median + mode per group: the two order statistics
    * `avg`/`sum` dashboards always want next. Median is Spark's exact
    * `percentile(0.5)` (linear interpolation — same definition as
    * DuckDB's `median` for numeric input); mode is a two-level count
    * (partial+final agg on the composite key, then one `max(struct)` per
    * group — ties break to the LAST shipmode alphabetically, stated
    * contract). Neither pass sorts the fact table; the mode never sees a
    * window.
    */
  def a16ModeMedian(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val med = ord.groupBy(col("o_orderstatus"))
      .agg(round(expr("percentile(o_totalprice, 0.5D)"), 6).as("median_price"))
    val mode = ord.groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderstatus"))
      .agg(max(struct(col("n"), col("o_orderpriority"))).as("m"))
      .select(col("o_orderstatus"), col("m.o_orderpriority").as("mode_priority"),
        col("m.n").as("mode_n"))
    med.join(mode, "o_orderstatus")
  }

  /** O9 — value window functions (first_value / last_value / nth_value)
    * with an explicit full-partition frame: each customer row sees its
    * nation's top, bottom, and runner-up balance. The window is
    * PARTITIONED (per nation) so state is bounded per key and the single
    * shuffle is on the partition key — the global-window trap doesn't
    * apply. last_value gets the full frame (the default frame ends at
    * CURRENT ROW, which silently returns the current row's value — the
    * classic misuse this operator exists to pin down).
    */
  def o9ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        first(col("c_acctbal")).over(w).as("top_bal"),
        last(col("c_acctbal")).over(w).as("bottom_bal"),
        nth_value(col("c_acctbal"), 2).over(w).as("second_bal"))
  }

  /** Q7 — the TPC-H Q3 "shipping priority" shape on our schema: segment-
    * filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff lineitems,
    * revenue per order, top 10. The classic mid-size-dim star query:
    * both date filters PUSH to the parquet scans (only matching row
    * groups read), the customer side reduces to a keys-only semi join
    * (no customer payload survives the probe), and the top-10 plans as
    * TakeOrderedAndProject — no global sort at any scale. Revenue is
    * cent-exact (per-row round to cents, long sum).
    */
  def q7ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("1998-06-01"))
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < cutoff)
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderdate"))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(centSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** Q8 — the TPC-H Q4 "order priority check" shape: orders with at least
    * one LATE lineitem (shipped > 60 days after the order date), counted
    * per priority. The correlated-EXISTS classic — planned as a LEFT SEMI
    * hash join on the order key whose extra inequality rides the join as
    * a post-probe predicate (never a nested loop, never an explode: each
    * order emits at most once however many lineitems match).
    */
  def q8ExistsAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
  }

  /** O10 — period-over-period change: monthly revenue per order priority
    * with month-over-month percent delta. The lag window runs over the
    * ALREADY AGGREGATED (priority × month) relation — the library's
    * standing rule for ordered windows — so per-task state is one
    * priority's months. Revenue is cent-exact; the delta is one IEEE
    * division rounded at emit (NULL for each priority's first month).
    */
  def o10PercentChange(spark: SparkSession, dir: String): DataFrame = {
    val monthly = t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"),
        trunc(col("o_orderdate"), "month").as("month"))
      .agg(centSum(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
    monthly
      .withColumn("prev", lag(col("revenue"), 1).over(w))
      .select(col("o_orderpriority"), col("month"), col("revenue"),
        round((col("revenue") - col("prev")) * 100.0 / col("prev"), 6)
          .as("pct_change"))
  }

  /** U5 — SCD Type-2 merge: apply a changeset to a dimension while
    * KEEPING history (each change closes the current version's validity
    * and opens a new one) — the warehouse pattern behind every
    * `dim_customer` with `valid_from`/`valid_to`. The reference's
    * drop-and-recreate load (dags/projectde_dag.py:144-150) is the
    * history-destroying version of this; [[upsert]] is the
    * history-less one. Pure projection + union: changed keys emit a
    * closed old row and an open new row, unchanged keys pass through.
    *
    * Join strategy is SIZE-AWARE by delegation (VERDICT r7 #5): no
    * forced `broadcast(delta)` — a typical dimension changeset is small
    * and AQE broadcasts it from its measured runtime size, but an
    * over-threshold delta (a backfill, a mass re-rate) degrades to a
    * shuffle join instead of an executor OOM. RelationalOpsSpec pins
    * both paths: broadcast chosen at default conf, shuffle join + same
    * rows with broadcast disabled.
    *
    * The demo changeset is deterministic: customers with custkey % 10 = 3
    * get +100.00 to their balance effective 2000-01-01.
    */
  def u5Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val effective = to_date(lit("2000-01-01"))
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        to_date(lit("1990-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    val delta = t(spark, dir, "customer")
      .filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey").as("d_key"),
        (round(col("c_acctbal") * 100).cast("long") + 10000L)
          .cast("double")./(100.0).as("d_bal"))
    base.join(delta, col("c_custkey") === col("d_key"), "left_outer")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("valid_from"),
        // changed keys: close the current version at the effective date
        when(col("d_key").isNotNull, effective)
          .otherwise(col("valid_to")).as("valid_to"))
      .unionByName(
        base.join(delta, col("c_custkey") === col("d_key"))
          .select(col("c_custkey"), col("c_name"),
            col("d_bal").as("c_acctbal"), effective.as("valid_from"),
            lit(null).cast("date").as("valid_to")))
  }

  /** Q9 — the TPC-H Q13 "customer distribution" shape: how many
    * customers placed 0, 1, 2… qualifying orders. The outer-join +
    * double-aggregation classic, built scale-first: orders PRE-AGGREGATE
    * to (custkey, n) before the join — the only wide shuffle runs over
    * the already-collapsed per-customer counts, never the raw fact — and
    * customers with no orders surface via the left join's null →
    * `coalesce(n, 0)`. The second aggregate groups on the tiny count
    * domain (a few hundred keys at any scale), so its shuffle is
    * negligible; partial aggregation collapses it map-side.
    */
  def q9Custdist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    t(spark, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q10 threshold, interpolated into the oracle so the pair can't drift. */
  private[operators] val LargeOrderMinQty = 250.0

  /** Q10 — the TPC-H Q18 "large volume customer" shape: orders whose
    * lineitems total more than [[LargeOrderMinQty]] units, with their
    * customer.
    * The HAVING-on-grouped-fact classic: lineitem collapses to
    * (orderkey, total_qty) FIRST (map-side partial sums make this the
    * cheap pass over the big fact), the >minQty filter drops ~99.9% of
    * groups before any join, and the two joins that follow probe with
    * only the surviving handful of orderkeys. The top-100 plans as
    * TakeOrderedAndProject — no global sort. Quantities are
    * integer-valued doubles, so the sum is exact in any partial-agg
    * order (no centSum needed).
    */
  def q10LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > LargeOrderMinQty)
    t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Q11 — the TPC-H Q22 "global sales opportunity" shape: well-funded
    * customers (balance above the positive-balance average) who have
    * placed no URGENT order, counted per nation. Composes the two
    * subquery classics: the scalar average arrives as a broadcast 1-row
    * aggregate (every executor compares against the same constant — no
    * shuffle), and the NOT-EXISTS is a LEFT ANTI hash join against the
    * pre-filtered urgent-order keys (keys-only build side). The average
    * is computed cent-exactly (long cent sum ÷ 100.0 ÷ count, the same
    * IEEE expression the oracle evaluates) so the > comparison can never
    * flip on summation-order ulps; totacctbal is centSum for the same
    * reason.
    */
  def q11SalesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((centSum(col("c_acctbal")) / count(lit(1))).as("ab"))
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        centSum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey").asc)
  }

  /** Q12 — the TPC-H Q12 conditional-pivot shape (two CASE-sums in one
    * pass): among LATE lines (shipped > 90 days after the order date),
    * how many came from high- vs low-priority orders, per return flag.
    * One equi hash join on the order key (the lateness inequality rides
    * as a post-probe predicate), then a single aggregation carrying both
    * conditional counts — the ELSE-0 sum pivot that folds what would be
    * two scans into one. Both sides project only the 2–3 columns the
    * query touches before the join.
    */
  def q12PriorityLateness(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
      .join(ord, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Q14 — the TPC-H Q14 promo-revenue-share shape: what fraction of one
    * month's discounted revenue came from promo parts. The part side
    * carries only (partkey, is-promo) into the join — a broadcast at
    * dimension scale — and the month filter prunes the fact scan before
    * the join. The share is a ratio of two cent-exact sums computed in
    * the SAME aggregation (no second scan); the emitted share is one
    * IEEE divide+multiply of those two exact longs — addition-order-proof
    * on any cluster, bit-identical in any engine (no rounding step).
    */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val cents = round(rev * 100).cast("long")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), cents).otherwise(0L)).as("promo_cents"),
        sum(cents).as("total_cents"))
      .select((lit(100.0) *
          (col("promo_cents").cast("double") / col("total_cents").cast("double")))
        .as("promo_revenue_pct"))
  }

  /** Q19 — the TPC-H Q19 disjunctive-predicate shape: revenue over an
    * OR of brand/size/quantity conjunctions. The interesting part is the
    * plan: Catalyst extracts the common conjuncts from the disjunction
    * (brand IN (...), size/quantity envelope bounds) and pushes them
    * into BOTH scans, so the join probes only rows that can satisfy
    * SOME branch; the full OR re-checks post-join. Without that
    * extraction every lineitem row would reach the join. Part side
    * broadcasts at dimension scale.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch = (col("p_brand") === "Brand#4" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#19" &&
        col("p_size").between(1, 25) && col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#2" &&
        col("p_size").between(1, 35) && col("l_quantity").between(20, 40))
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(count(lit(1)).as("n_lines"),
        centSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
  }

  /** Q17 — the TPC-H Q17 correlated-scalar-subquery shape ("small-quantity
    * order revenue": lines of one brand's parts whose quantity is below
    * 20% of that PART's average quantity), decorrelated the only way that
    * scales: the per-partkey average is PRE-AGGREGATED once and equi-hash-
    * joined back — never evaluated as a per-row subquery (which would
    * re-scan lineitem per probe row). The brand filter broadcasts into
    * BOTH lineitem passes (the avg is over all lines of the brand's
    * parts, so filtering before the aggregate is semantics-preserving and
    * prunes ~96% of the agg input); the aggregated side is |brand parts|
    * rows, AQE-broadcastable. Quantities are small integers (exact in
    * IEEE in any summation order), so avg and the 0.2× threshold are
    * bit-identical in any engine; revenue is cent-exact.
    *
    * Adapted to this data model: no p_container column, so the part
    * predicate is brand-only (ref has no Q17 either — this is the
    * decorrelation classic the round-9 verdict prescribed).
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = t(spark, dir, "part")
      .filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((centSum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** Q21 — the TPC-H Q21 EXISTS + NOT-EXISTS self-join shape ("waiting
    * suppliers": suppliers who were the ONLY late supplier of a
    * multi-supplier finalized order). The textbook form correlates
    * lineitem against itself twice (EXISTS another supplier's line,
    * NOT EXISTS another supplier's LATE line); executed literally that is
    * two more lineitem scans. Decorrelated here into ONE per-order
    * aggregate over the flagged lines — n_supp = distinct suppliers,
    * n_late_supp = distinct late suppliers — where the EXISTS becomes
    * `n_supp >= 2` and the NOT-EXISTS becomes `n_late_supp = 1` (the one
    * late supplier is necessarily the probe row's), followed by ONE LEFT
    * SEMI hash join of the late lines against the qualifying order keys:
    * two lineitem scans total, zero nested loops, and the per-order
    * relation is keys-only. Supplier is a broadcast dimension.
    *
    * Adapted to this data model: no l_receiptdate/l_commitdate, so
    * "late" is the q8 convention (shipped > 60 days after the order
    * date) and the order-status filter is o_orderstatus = 'F'.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val flagged = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val waitingOrders = flagged
      .groupBy(col("l_orderkey").as("g_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("is_late"), col("l_suppkey")))
          .as("n_late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .select(col("g_orderkey"))
    flagged.filter(col("is_late"))
      .join(waitingOrders, col("l_orderkey") === col("g_orderkey"),
        "left_semi")
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** J10 — TEMPORAL dimension join: each fact row enriched with the
    * dimension version that was VALID AT ITS EVENT TIME — the read side
    * of [[u5Scd2Merge]]'s history-keeping write, and the join every
    * `dim_customer`-with-validity warehouse runs ("what was the
    * customer's balance when the order was placed"). Orders before the
    * change date resolve to the closed original version, later orders to
    * the open one.
    *
    * Plan shape: ONE equi hash join on the dimension key with the
    * validity interval riding as a post-probe predicate — never a range
    * join, because SCD2 validity intervals PARTITION time per key (2–3
    * versions per key in practice), so the equi-join's fan-out is the
    * version count and each fact row survives exactly once. A banded
    * range join (the [[RangeJoin.banded]] machinery) would be strictly
    * worse here: the equi key already co-locates everything. Date
    * comparison is whole-day ([from, to) with NULL = open), integer
    * date arithmetic both engines share.
    */
  def j10TemporalDimJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = u5Scd2Merge(spark, dir)
      .select(col("c_custkey").as("d_custkey"), col("c_acctbal"),
        col("valid_from"), col("valid_to"))
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"))
      .join(dim, col("o_custkey") === col("d_custkey") &&
        col("o_date") >= col("valid_from") &&
        (col("valid_to").isNull || col("o_date") < col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
        col("o_totalprice"), col("c_acctbal").as("acctbal_asof"),
        col("valid_from"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_priority_lateness" -> (q12PriorityLateness _),
    "q14_promo_effect" -> (q14PromoEffect _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "j10_temporal_dim_join" -> (j10TemporalDimJoin _),
    "a13_pct_of_total" -> (a13PctOfTotal _),
    "j8_fuzzy_match" -> (j8FuzzyMatch _),
    "q7_shipping_priority" -> (q7ShippingPriority _),
    "q8_exists_agg" -> (q8ExistsAgg _),
    "q9_custdist" -> (q9Custdist _),
    "q10_large_orders" -> (q10LargeOrders _),
    "q11_sales_opportunity" -> (q11SalesOpportunity _),
    "o10_percent_change" -> (o10PercentChange _),
    "u5_scd2_merge" -> (u5Scd2Merge _),
    "u6_cdc_apply" -> (u6CdcApply _),
    "u7_incremental_agg" -> (u7IncrementalAgg _),
    "a17_hll_partitioned" -> (a17HllPartitioned _),
    "a19_histogram_quantiles" -> (a19HistogramQuantiles _),
    "a16_mode_median" -> (a16ModeMedian _),
    "o9_value_windows" -> (o9ValueWindows _),
    "j6_salted_join" -> (j6SaltedJoin _),
    "j7_nullsafe_join" -> (j7NullSafeJoin _),
    "f6_scalar_subquery" -> (f6ScalarSubquery _),
    "a12_string_agg" -> (a12StringAgg _),
    "a11_cube" -> (a11Cube _),
    "o7_rolling_frame" -> (o7RollingFrame _),
    "a14_grouping_sets" -> (a14GroupingSets _),
    "a15_histogram" -> (a15Histogram _),
    "o8_keyset_page" -> (o8KeysetPagination _),
    "j5_bloom_join" -> (j5BloomJoin _),
    "u4_upsert" -> (u4Upsert _),
    "o6_window_extras" -> (o6WindowExtras _),
    "a9_rollup" -> (a9Rollup _),
    "a10_pivot" -> (a10Pivot _),
    "q5_star_join" -> (q5StarJoin _),
    "q6_selective_agg" -> (q6SelectiveAgg _),
    "a6_salted_agg" -> (a6SaltedAgg _),
    "j3_bucketed_join" -> (j3BucketedJoin _),
    "a7_percentiles" -> (a7Percentiles _),
    "a7_percentiles_approx" -> (a7PercentilesApproxContract _),
    "a8_approx_agg" -> (a8ApproxAgg _),
    "a1_group_count" -> (a1GroupCount _),
    "a2_group_sum" -> (a2GroupSum _),
    "a4_postagg_derived" -> (a4PostAggDerived _),
    "u1_union_perspectives" -> (u1UnionPerspectives _),
    "a3_standings" -> (a3Standings _),
    "j1_full_outer" -> (j1FullOuter _),
    "j2_semi_exists" -> (j2SemiExists _),
    "j2_anti_not_exists" -> (j2AntiNotExists _),
    "o1_multikey_sort" -> (o1MultiKeySort _),
    "o2_rank_id" -> (o2RankId _),
    "o3_topk_limit" -> (o3TopKLimit _),
    "o4_window_funcs" -> (o4WindowFuncs _),
    "o5_topk_per_key" -> (o5TopKPerKey _),
    "o11_latest_per_key" -> (o11LatestPerKey _),
    "a18_unpivot" -> (a18Unpivot _),
    "u2_intersect" -> (u2Intersect _),
    "u3_except" -> (u3Except _),
    "a5_distinct_count" -> (a5DistinctCount _),
  )

  val oracle: Map[String, String] = Map(
    "j8_fuzzy_match" -> """
      WITH p AS (SELECT substr(n_name, 1, 1) || substr(n_name, 3) AS probe
                 FROM nation),
      d AS (SELECT p.probe, n.n_name, levenshtein(p.probe, n.n_name) AS dist
            FROM p CROSS JOIN nation n),
      r AS (SELECT probe, n_name, dist,
              row_number() OVER (PARTITION BY probe
                ORDER BY dist ASC, n_name ASC) AS rn
            FROM d)
      SELECT probe, n_name AS matched, CAST(dist AS INT) AS dist
      FROM r WHERE rn = 1""",
    "a16_mode_median" -> """
      WITH med AS (SELECT o_orderstatus,
                     round(median(o_totalprice), 6) AS median_price
                   FROM orders GROUP BY 1),
      cnt AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
              FROM orders GROUP BY 1, 2),
      md AS (SELECT o_orderstatus, o_orderpriority AS mode_priority,
               CAST(n AS BIGINT) AS mode_n
             FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                     ORDER BY n DESC, o_orderpriority DESC) AS rn
                   FROM cnt)
             WHERE rn = 1)
      SELECT m.o_orderstatus, m.median_price, md.mode_priority, md.mode_n
      FROM med m JOIN md ON m.o_orderstatus = md.o_orderstatus""",
    "q9_custdist" -> """
      WITH cnt AS (SELECT o_custkey, count(*) AS n FROM orders
                   WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
      SELECT coalesce(n, 0) AS c_count, count(*) AS custdist
      FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "q10_large_orders" -> s"""
      WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
                   FROM lineitem GROUP BY 1
                   HAVING sum(l_quantity) > $LargeOrderMinQty)
      SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice, b.total_qty
      FROM orders o
      JOIN big b ON o.o_orderkey = b.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 100""",
    "q11_sales_opportunity" -> """
      WITH ab AS (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                    AS DOUBLE) / 100.0 / count(*) AS ab
                  FROM customer WHERE c_acctbal > 0)
      SELECT c.c_nationkey, count(*) AS numcust,
        CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
          / 100.0 AS totacctbal
      FROM customer c, ab
      WHERE c.c_acctbal > ab.ab
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY 1 ORDER BY c.c_nationkey ASC""",
    "q12_priority_lateness" -> """
      SELECT l.l_returnflag,
        CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
      GROUP BY 1 ORDER BY 1 ASC""",
    "q14_promo_effect" -> """
      SELECT 100.0 * (CAST(sum(CASE WHEN p.p_type = 'PROMO'
          THEN CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
               AS BIGINT) ELSE 0 END) AS DOUBLE)
        / CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
               AS BIGINT)) AS DOUBLE)) AS promo_revenue_pct
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1996-04-01'""",
    "q17_small_qty_revenue" -> """
      WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'),
      ag AS (SELECT l_partkey, avg(l_quantity) AS aq
             FROM lineitem JOIN bp ON l_partkey = p_partkey
             GROUP BY 1)
      SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
          AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
      FROM lineitem l
      JOIN bp ON l.l_partkey = bp.p_partkey
      JOIN ag ON l.l_partkey = ag.l_partkey
      WHERE l.l_quantity < 0.2 * ag.aq""",
    "q21_waiting_suppliers" -> """
      WITH fl AS (SELECT l.l_orderkey, l.l_suppkey,
                    (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
                      AS is_late
                  FROM lineitem l
                  JOIN orders o ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_orderstatus = 'F'),
      po AS (SELECT l_orderkey FROM fl GROUP BY 1
             HAVING count(DISTINCT l_suppkey) >= 2
               AND count(DISTINCT CASE WHEN is_late THEN l_suppkey END) = 1)
      SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM fl
      JOIN po ON fl.l_orderkey = po.l_orderkey
      JOIN supplier s ON fl.l_suppkey = s.s_suppkey
      WHERE fl.is_late
      GROUP BY 1
      ORDER BY numwait DESC, s.s_name ASC
      LIMIT 100""",
    "q19_disjunctive" -> """
      SELECT count(*) AS n_lines,
        CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
          AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 1 AND 20)
         OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25
             AND l.l_quantity BETWEEN 10 AND 30)
         OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 35
             AND l.l_quantity BETWEEN 20 AND 40)""",
    "q7_shipping_priority" -> """
      SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
        CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
          AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1998-06-01'
        AND l.l_shipdate > TIMESTAMP '1998-06-01'
        AND o.o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
      GROUP BY 1, 2
      ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",
    "q8_exists_agg" -> """
      SELECT o.o_orderpriority, count(*) AS n_late_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1""",
    "j10_temporal_dim_join" -> """
      WITH delta AS (
        SELECT c_custkey AS d_key,
          (CAST(round(c_acctbal * 100) AS BIGINT) + 10000)::DOUBLE / 100.0
            AS d_bal
        FROM customer WHERE c_custkey % 10 = 3),
      dim AS (
        SELECT c.c_custkey AS d_custkey, c.c_acctbal,
               DATE '1990-01-01' AS valid_from,
               CASE WHEN d.d_key IS NOT NULL THEN DATE '2000-01-01' END
                 AS valid_to
        FROM customer c LEFT JOIN delta d ON c.c_custkey = d.d_key
        UNION ALL
        SELECT c.c_custkey, d.d_bal, DATE '2000-01-01', CAST(NULL AS DATE)
        FROM customer c JOIN delta d ON c.c_custkey = d.d_key)
      SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS o_date,
             o.o_totalprice, dim.c_acctbal AS acctbal_asof, dim.valid_from
      FROM orders o JOIN dim ON o.o_custkey = dim.d_custkey
        AND CAST(o.o_orderdate AS DATE) >= dim.valid_from
        AND (dim.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < dim.valid_to)""",
    "u7_incremental_agg" -> """
      SELECT o_custkey, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          / 100.0 AS total_spend,
        min(o_orderdate) AS first_order,
        max(o_orderdate) AS last_order
      FROM orders GROUP BY 1""",
    "a17_hll_partitioned" -> """
      SELECT count(DISTINCT CAST(ts AS DATE)) AS range_days,
             count(DISTINCT user_id) AS exact_users,
             TRUE AS hll_ok
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
        AND DATE '2024-01-21'""",
    "a19_histogram_quantiles" -> """
      WITH ev AS (SELECT CAST(ts AS DATE) AS day, value FROM events
                  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                    AND DATE '2024-01-21'),
      daily AS (SELECT day,
                  CAST(least(floor(value / 25), 10) AS INT) AS bin,
                  count(*) AS n
                FROM ev GROUP BY 1, 2),
      merged AS (SELECT bin, CAST(sum(n) AS BIGINT) AS n
                 FROM daily GROUP BY 1),
      cum AS (SELECT bin, sum(n) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM merged),
      nv AS (SELECT CAST(sum(n) AS BIGINT) AS n_values FROM merged),
      dd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS range_days
             FROM daily),
      est AS (SELECT max(n_values) AS n_values,
        min(CASE WHEN cum >= (n_values * 50 + 99) // 100 THEN bin END) AS b50,
        min(CASE WHEN cum >= (n_values * 90 + 99) // 100 THEN bin END) AS b90,
        min(CASE WHEN cum >= (n_values * 99 + 99) // 100 THEN bin END) AS b99
        FROM cum, nv),
      ex AS (SELECT quantile_cont(value, 0.5) AS x50,
               quantile_cont(value, 0.9) AS x90,
               quantile_cont(value, 0.99) AS x99 FROM ev)
      SELECT d.range_days, e.n_values,
        CAST(e.b50 * 25 AS DOUBLE) AS p50_est,
        CAST(e.b90 * 25 AS DOUBLE) AS p90_est,
        CAST(e.b99 * 25 AS DOUBLE) AS p99_est,
        (abs(e.b50 * 25 - ex.x50) <= 50.0) AS p50_ok,
        (abs(e.b90 * 25 - ex.x90) <= 50.0) AS p90_ok,
        (abs(e.b99 * 25 - ex.x99) <= 50.0) AS p99_ok
      FROM est e, ex, dd d""",
    "u6_cdc_apply" -> """
      WITH base AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
                    FROM customer),
      delta AS (
        SELECT CASE WHEN op = 'I' THEN c_custkey + 1000000
                    ELSE c_custkey END AS c_custkey,
               c_name,
               CASE WHEN op = 'U' THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal,
               CASE WHEN op = 'I' THEN 'MIGRATED'
                    ELSE c_mktsegment END AS c_mktsegment,
               op
        FROM (SELECT *, CASE WHEN c_custkey % 17 = 0 THEN 'D'
                             WHEN c_custkey % 13 = 0 THEN 'U'
                             WHEN c_custkey % 19 = 0 THEN 'I' END AS op
              FROM base)
        WHERE op IS NOT NULL)
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM delta WHERE op <> 'D'
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d
                        WHERE d.c_custkey = b.c_custkey)""",
    "u5_scd2_merge" -> """
      WITH delta AS (
        SELECT c_custkey AS d_key,
          (CAST(round(c_acctbal * 100) AS BIGINT) + 10000)::DOUBLE / 100.0
            AS d_bal
        FROM customer WHERE c_custkey % 10 = 3)
      SELECT c.c_custkey, c.c_name, c.c_acctbal,
             DATE '1990-01-01' AS valid_from,
             CASE WHEN d.d_key IS NOT NULL THEN DATE '2000-01-01' END
               AS valid_to
      FROM customer c LEFT JOIN delta d ON c.c_custkey = d.d_key
      UNION ALL
      SELECT c.c_custkey, c.c_name, d.d_bal AS c_acctbal,
             DATE '2000-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      FROM customer c JOIN delta d ON c.c_custkey = d.d_key""",
    "o10_percent_change" -> """
      WITH m AS (
        SELECT o_orderpriority,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS revenue
        FROM orders GROUP BY 1, 2)
      SELECT o_orderpriority, month, revenue,
        round((revenue - lag(revenue) OVER w) * 100.0
          / lag(revenue) OVER w, 6) AS pct_change
      FROM m
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)""",
    "o9_value_windows" -> """
      SELECT c_custkey, c_nationkey, c_acctbal,
        first_value(c_acctbal) OVER w AS top_bal,
        last_value(c_acctbal) OVER w AS bottom_bal,
        nth_value(c_acctbal, 2) OVER w AS second_bal
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "j7_nullsafe_join" -> """
      WITH c AS (
        SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL
                    ELSE c_nationkey END AS nk,
               count(*) AS customers
        FROM customer GROUP BY 1),
      s AS (
        SELECT CASE WHEN s_nationkey % 5 = 0 THEN NULL
                    ELSE s_nationkey END AS snk,
               count(*) AS suppliers
        FROM supplier GROUP BY 1)
      SELECT c.nk AS nationkey, customers, suppliers
      FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.snk""",
    "f6_scalar_subquery" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
        (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) / count(*)
         FROM customer)""",
    "a13_pct_of_total" -> """
      WITH n AS (
        SELECT c_nationkey AS nationkey,
               sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        FROM customer GROUP BY 1)
      SELECT nationkey,
        CAST(bal AS DOUBLE) AS bal,
        round(CAST(bal AS DOUBLE) * 100 / CAST(sum(bal) OVER () AS DOUBLE), 6)
          AS pct_of_total
      FROM n""",
    "j6_salted_join" -> """
      SELECT s_nationkey AS nationkey,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
          AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        count(*) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1""",
    "a12_string_agg" -> """
      SELECT s_nationkey AS nationkey, count(*) AS n,
             string_agg(s_name, ',' ORDER BY s_name) AS names
      FROM supplier GROUP BY 1""",
    "a11_cube" -> """
      SELECT o_orderstatus, o_orderpriority,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "o7_rolling_frame" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(count(*) OVER f AS BIGINT) AS roll_n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER f AS DOUBLE)
          / 100.0 AS roll_spend,
        CAST(FLOOR(
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER f AS DOUBLE)
          / (count(*) OVER f)) AS BIGINT) AS roll_avg_cents
      FROM orders
      WINDOW f AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "a14_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        (o_orderstatus), (o_orderpriority))""",
    "a15_histogram" -> s"""
      SELECT CAST(least(floor(o_totalprice / $HistogramWidth), $HistogramTop) AS INT) AS bucket,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price,
        CAST(least(floor(o_totalprice / $HistogramWidth), $HistogramTop) AS INT) * $HistogramWidth AS lo
      FROM orders
      GROUP BY 1""",
    "o8_keyset_page" -> s"""
      SELECT * FROM orders
      WHERE o_orderdate > TIMESTAMP '1997-03-15 00:00:00'
         OR (o_orderdate = TIMESTAMP '1997-03-15 00:00:00'
             AND o_orderkey > 1000)
      ORDER BY o_orderdate ASC, o_orderkey ASC
      LIMIT $KeysetPageSize""",
    "j5_bloom_join" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price
      FROM orders
      WHERE EXISTS (SELECT 1 FROM customer
                    WHERE c_custkey = o_custkey
                      AND c_mktsegment = 'BUILDING')
      GROUP BY 1""",
    "u4_upsert" -> """
      WITH delta AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
               'RELOADED' AS c_mktsegment
        FROM customer WHERE c_custkey % 13 = 0)
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM delta
      UNION ALL
      SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment
      FROM customer b
      WHERE NOT EXISTS (SELECT 1 FROM delta d
                        WHERE d.c_custkey = b.c_custkey)""",
    "o5_topk_per_key" -> """
      SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3""",
    "o11_latest_per_key" -> """
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1""",
    "a18_unpivot" -> """
      WITH wide AS (
        SELECT o_orderstatus,
          CAST(count(*) AS DOUBLE) AS n_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS total_price,
          CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
        FROM orders GROUP BY 1)
      SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value
      FROM wide
      UNION ALL
      SELECT o_orderstatus, 'total_price', total_price FROM wide
      UNION ALL
      SELECT o_orderstatus, 'n_customers', n_customers FROM wide""",
    // a8's raw sketch values are engine-specific; the query outputs the
    // error CONTRACT (exact count + within-5% booleans), which IS exact.
    "a8_approx_agg" -> """
      SELECT l_returnflag,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        TRUE AS hll_ok, TRUE AS p50_ok
      FROM lineitem GROUP BY 1""",
    "q6_selective_agg" -> """
      SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""",
    "a6_salted_agg" -> """
      SELECT l_returnflag, count(*) AS n_items,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1""",
    "j3_bucketed_join" -> """
      SELECT o_orderpriority,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          AS DOUBLE) / 100.0 AS revenue,
        count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1""",
    "a7_percentiles" -> """
      SELECT o_orderstatus,
        round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        round(quantile_cont(o_totalprice, 0.9), 4) AS p90
      FROM orders GROUP BY 1""",
    // the production sketch's values are engine-specific; the query
    // outputs exact percentiles + the within-1% contract booleans
    "a7_percentiles_approx" -> """
      SELECT o_orderstatus,
        round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        TRUE AS p50_ok, TRUE AS p90_ok
      FROM orders GROUP BY 1""",
    "q5_star_join" -> """
      SELECT n_name,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          AS DOUBLE) / 100.0 AS revenue,
        count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1""",
    "a1_group_count" ->
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY 1",
    "o6_window_extras" -> """
      WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n
                 FROM customer GROUP BY 1)
      SELECT nationkey, n,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cume
      FROM c WINDOW w AS (ORDER BY n DESC, nationkey ASC)""",
    "a9_rollup" -> """
      SELECT o_orderstatus, o_orderpriority,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "a10_pivot" -> """
      SELECT o_orderstatus,
        CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
        CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
        CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
        CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
          AS unspec,
        CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS low
      FROM orders GROUP BY 1""",
    "a2_group_sum" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
        count(*) AS count_order,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY 1, 2""",
    "a4_postagg_derived" -> """
      SELECT c_nationkey AS nationkey, count(*) AS customers,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
      FROM customer GROUP BY 1""",
    "u1_union_perspectives" -> """
      WITH m AS (SELECT o_custkey % 20 AS home, (o_custkey + 7) % 20 AS away,
                        o_orderkey % 5 AS hs, (o_orderkey % 7) % 5 AS aws
                 FROM orders),
      u AS (SELECT home AS club, hs AS gf, aws AS ga FROM m
            UNION ALL
            SELECT away AS club, aws AS gf, hs AS ga FROM m)
      SELECT club, count(*) AS appearances, CAST(sum(gf) AS BIGINT) AS goals
      FROM u GROUP BY club""",
    "a3_standings" -> """
      WITH m AS (SELECT o_custkey % 20 AS home, (o_custkey + 7) % 20 AS away,
                        o_orderkey % 5 AS hs, (o_orderkey % 7) % 5 AS aws
                 FROM orders),
      u AS (SELECT home AS club, hs AS gf, aws AS ga FROM m
            UNION ALL
            SELECT away AS club, aws AS gf, hs AS ga FROM m),
      s AS (SELECT club,
              count(*) AS "match",
              CAST(sum(CASE WHEN gf > ga THEN 1 ELSE 0 END) AS BIGINT) AS win,
              CAST(sum(CASE WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS draw,
              CAST(sum(CASE WHEN gf < ga THEN 1 ELSE 0 END) AS BIGINT) AS loss,
              CAST(sum(gf) AS BIGINT) AS goal_for,
              CAST(sum(ga) AS BIGINT) AS goal_against,
              CAST(sum(CASE WHEN gf > ga THEN 3 WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS points
            FROM u GROUP BY club)
      SELECT CAST(row_number() OVER (ORDER BY points DESC, goal_for DESC,
               goal_against DESC, win DESC, draw DESC, loss DESC, club ASC)
             AS INT) AS id,
             club, points, "match", win, draw, loss, goal_for, goal_against,
             goal_for - goal_against AS goal_diff
      FROM s""",
    "j1_full_outer" -> """
      WITH c AS (SELECT c_nationkey AS cnk, count(*) AS customers
                 FROM customer WHERE c_acctbal > 0 GROUP BY 1),
           s AS (SELECT s_nationkey AS snk, count(*) AS suppliers
                 FROM supplier GROUP BY 1)
      SELECT coalesce(cnk, snk) AS nationkey,
             coalesce(customers, 0) AS customers,
             coalesce(suppliers, 0) AS suppliers
      FROM c FULL OUTER JOIN s ON cnk = snk""",
    "j2_semi_exists" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
    "j2_anti_not_exists" -> """
      SELECT c_custkey, c_nationkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
    "o1_multikey_sort" -> """
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
        CAST(row_number() OVER (ORDER BY s_acctbal DESC, s_nationkey ASC,
          s_suppkey ASC) AS INT) AS pos
      FROM supplier""",
    "o2_rank_id" -> """
      WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n
                 FROM customer GROUP BY 1)
      SELECT nationkey, n,
        CAST(row_number() OVER (ORDER BY n DESC, nationkey ASC) AS INT) AS rank_id
      FROM c""",
    "o3_topk_limit" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "o4_window_funcs" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price,
        CAST(row_number() OVER w AS INT) AS order_seq,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
          AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC)""",
    "u2_intersect" -> """
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier""",
    "u3_except" -> """
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000""",
    "a5_distinct_count" -> """
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
             count(DISTINCT l_suppkey) AS n_suppliers
      FROM lineitem GROUP BY 1""",
  )
}
