package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Projection + filter inventory (SURVEY §2.2): select/reorder, rename,
  * derived columns, NOT-IN junk filters, regex predicates, date windows,
  * arity guards, null-producing parse guards.
  *
  * Scale notes: every predicate is a native Column expression — never a
  * closure/UDF — so Catalyst pushes it into the parquet scan
  * (`PushedFilters` visible in explain) and column pruning keeps the scan to
  * the projected columns only.
  */
object Projections {

  /** P1 — column select + reorder (ref dags/projectde_dag.py:124-125). */
  def p1SelectReorder(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_name"), col("p_partkey"), col("p_retailprice"),
        col("p_brand"))

  /** P2 — rename (ref spark-scripts/spark-project.py:71-72). */
  def p2Rename(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .withColumnRenamed("n_name", "nation_name")
      .withColumnRenamed("n_nationkey", "nationkey")

  /** P3 — derived column (ref dags/projectde_dag.py:128-129). */
  def p3DerivedColumn(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"))
      .withColumn("price_with_markup", col("p_retailprice") * 1.1)

  /** F1 — NOT-IN junk-row filter (ref dags/projectde_dag.py:46-47:
    * date not in {Averages, Percentages} and home_team != Totals).
    */
  def f1NotInFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(!col("o_orderpriority").isin("5-LOW", "4-NOT SPECIFIED") &&
        col("o_orderstatus") =!= "F")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))

  /** F2 — regex/char-class predicate (ref spark-scripts/spark-project.py:37
    * `not home_team.isalpha()`).
    */
  def f2RegexFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_name").rlike("^(red|blue) "))
      .select(col("p_partkey"), col("p_name"))

  /** F3's as-of date, interpolated into the oracle. */
  private[operators] val WindowAsOf = "1996-01-01"

  /** F3 — date-window filter with a fixed as-of (ref
    * dags/projectde_dag.py:63-64,96-97; determinism contract (a): the wall
    * clock is an input, never ambient: [[WindowAsOf]]). The upper bound is
    * `< asOf` — the reference's daily 09:00 run drops rows dated
    * `>= now-1day`, which KEEPS yesterday's date-at-midnight; `< asOf-1day`
    * would silently omit the most recent full day.
    */
  def f3DateWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") < lit(WindowAsOf).cast("timestamp") &&
        col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))

  /** F4 — arity guard (ref dags/projectde_dag.py:39 `len(cols) >= 4`). */
  def f4ArityGuard(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= 30)
      .select(col("doc_id"), col("n_tokens"))

  /** F5 — null-producing parse guard (ref dags/projectde_dag.py:89-93:
    * unparseable date → drop row). Mixed-validity strings are synthesized
    * from orders; to_date under non-ANSI yields null on failure, the filter
    * drops them — the declarative form of the reference's try/except.
    */
  def f5ParseGuard(spark: SparkSession, dir: String): DataFrame = {
    // to_date null-on-failure requires the GraftSession non-ANSI contract
    t(spark, dir, "orders")
      .withColumn("date_str",
        when(col("o_orderkey") % 2 === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .otherwise(lit("not a date")))
      .withColumn("parsed", to_date(col("date_str"), "yyyy-MM-dd"))
      .filter(col("parsed").isNotNull)
      .select(col("o_orderkey"), col("parsed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_select_reorder" -> (p1SelectReorder _),
    "p2_rename" -> (p2Rename _),
    "p3_derived_column" -> (p3DerivedColumn _),
    "f1_notin_filter" -> (f1NotInFilter _),
    "f2_regex_filter" -> (f2RegexFilter _),
    "f3_date_window" -> (f3DateWindow _),
    "f4_arity_guard" -> (f4ArityGuard _),
    "f5_parse_guard" -> (f5ParseGuard _),
  )

  val oracle: Map[String, String] = Map(
    "p1_select_reorder" ->
      "SELECT p_name, p_partkey, p_retailprice, p_brand FROM part",
    "p2_rename" -> """
      SELECT n_nationkey AS nationkey, n_name AS nation_name, n_regionkey
      FROM nation""",
    "p3_derived_column" -> """
      SELECT p_partkey, p_retailprice, p_retailprice * 1.1 AS price_with_markup
      FROM part""",
    "f1_notin_filter" -> """
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
        AND o_orderstatus <> 'F'""",
    "f2_regex_filter" -> """
      SELECT p_partkey, p_name FROM part
      WHERE regexp_matches(p_name, '^(red|blue) ')""",
    "f3_date_window" -> s"""
      SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      WHERE l_shipdate < TIMESTAMP '$WindowAsOf'
        AND l_shipdate >= TIMESTAMP '1995-06-01'""",
    "f4_arity_guard" -> """
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      WHERE len(string_split(text, ' ')) >= 30""",
    "f5_parse_guard" -> """
      SELECT o_orderkey,
             try_cast(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed
      FROM orders WHERE o_orderkey % 2 = 0""",
  )
}
