package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Tables.t

/** Source/sink inventory (SURVEY §2.1): HTML-table scan, CSV scan/sink with
  * explicit schema, in-memory rows, DDL/catalog, JDBC overwrite sink, LIMIT
  * preview.
  *
  * Scale notes: every file source gets an explicit schema (no inference
  * pass); the single-file CSV sink uses `coalesce(1)` on the WRITE side only
  * (upstream parallelism preserved; the reference instead collected to the
  * driver via toPandas, spark-scripts/spark-project.py:98-113).
  */
object Sources {

  /** All sink/layout round-trip scratch dirs live under ONE per-process
    * root that a JVM shutdown hook deletes recursively (ADVICE r7:
    * per-call createTempDirectory dirs were never cleaned up, so repeated
    * Verify/test runs accumulated unbounded data under the system temp
    * dir). A fresh subdir per call keeps concurrently-running suites
    * race-free; eager deletion is impossible because the returned
    * DataFrames are lazy and read the dir when the caller materializes
    * them, so the hook is the earliest safe point.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(root.toFile)
    }))
    root
  }

  private def scratchDir(label: String): java.nio.file.Path =
    Files.createTempDirectory(scratchRoot, label)

  // ---------------------------------------------------------------- S1 HTML

  /** S1 — HTML-table scan (ref dags/projectde_dag.py:28-57: GET + bs4 over
    * `<tr class="odd">`). No network in the sandbox, so the fetch step is a
    * seam: callers hand us the HTML string; parsing is a pure function and
    * the rows distribute via createDataFrame. A DataSource V2 TableProvider
    * is the marked follow-up for scale-out fetch.
    */
  def parseHtmlTableRows(html: String): Seq[Seq[String]] = {
    val tr = "(?s)<tr[^>]*>(.*?)</tr>".r
    val td = "(?s)<t[dh][^>]*>(.*?)</t[dh]>".r
    val tag = "<[^>]*>".r
    tr.findAllMatchIn(html).map { m =>
      td.findAllMatchIn(m.group(1))
        .map(c => tag.replaceAllIn(c.group(1), "").trim)
        .toSeq
    }.toSeq
  }

  /** Deterministic fixture standing in for the scraped page (shape of
    * soccerstats.com rows the reference scrapes, incl. the junk rows its
    * filters drop — dags/projectde_dag.py:46-47).
    */
  val htmlFixture: String =
    """<table>
      |<tr class="odd"><td>Sa 15 Feb</td><td>Arsenal</td><td>2 - 1</td><td>Chelsea</td></tr>
      |<tr class="odd"><td>Su 16 Feb</td><td>Leeds</td><td>0 - 0</td><td>Fulham</td></tr>
      |<tr class="odd"><td>Mo 17 Feb</td><td>Spurs</td><td>1 - 3</td><td>Everton</td></tr>
      |<tr class="odd"><td>Averages</td><td>Totals</td><td>-</td><td></td></tr>
      |<tr class="odd"><td>Tu 18 Feb</td><td>Wolves</td><td>2 - 2</td><td>Brighton</td></tr>
      |</table>""".stripMargin

  private val htmlSchema = StructType(Seq(
    StructField("date", StringType),
    StructField("home_team", StringType),
    StructField("score", StringType),
    StructField("away_team", StringType),
  ))

  /** S1 as a runnable query: parse the fixture, drop junk rows (F1), split
    * the score (X2). Fully deterministic → VALUES oracle.
    */
  def s1HtmlTableScan(spark: SparkSession, dir: String): DataFrame = {
    val rows = parseHtmlTableRows(htmlFixture).filter(_.length >= 4)
      .map(r => Row(r(0), r(1), r(2), r(3)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), htmlSchema)
    df.filter(!col("date").isin("Averages", "Percentages") &&
        col("home_team") =!= "Totals")
      .withColumn("home_score",
        element_at(split(col("score"), " - "), 1).cast("int"))
      .withColumn("away_score",
        element_at(split(col("score"), " - "), 2).cast("int"))
      .drop("score")
  }

  /** S1 via the DataSource V2 provider (HtmlTableProvider): the same scan
    * as `s1HtmlTableScan`, but parsing runs executor-side inside a real
    * Spark source instead of on the driver.
    */
  def s1bHtmlDsv2(spark: SparkSession, dir: String): DataFrame = {
    val f = scratchDir("graft_html")
    Files.writeString(f.resolve("page.html"), htmlFixture)
    spark.read.format("graft.sources.HtmlTableProvider")
      .option("path", f.toString).option("columns", "4").load()
      .toDF("date", "home_team", "score", "away_team")
      .filter(!col("date").isin("Averages", "Percentages") &&
        col("home_team") =!= "Totals")
      .withColumn("home_score",
        element_at(split(col("score"), " - "), 1).cast("int"))
      .withColumn("away_score",
        element_at(split(col("score"), " - "), 2).cast("int"))
      .drop("score")
  }

  // ----------------------------------------------------------- S2/S5 CSV

  /** S2 — CSV scan with header + explicit schema (ref sql/ingest-retail.sql:1
    * `COPY ... CSV HEADER`). Roundtrips `region` through CSV so the scan is
    * oracle-checkable against the parquet original.
    */
  def s2CsvScan(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_csv_scan").toString
    t(spark, dir, "region").write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    spark.read.option("header", "true").schema(schema).csv(tmp)
  }

  /** S5 — single-file CSV sink with header (ref
    * spark-scripts/spark-project.py:98-113, minus the driver collect):
    * coalesce(1) on the write only, then read back for the oracle check.
    */
  def s5CsvSink(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_csv_sink").toString
    t(spark, dir, "nation").coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    spark.read.option("header", "true").schema(schema).csv(tmp)
  }

  /** S10 — JSON sink + schema-explicit JSON scan, round-tripped: the
    * documents subset lands as JSON lines and is read back with a declared
    * schema (inference at 100 TB means a full extra pass — never infer).
    * The oracle checks the round trip restored the parquet-sourced rows
    * exactly.
    */
  def s10JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_json_sink").toString
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode(SaveMode.Overwrite).json(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(tmp)
  }

  /** S11 — range-sorted parquet layout: `repartitionByRange` on the
    * pruning key + `sortWithinPartitions` before the write gives every
    * output file a DISJOINT [min, max] on that key, so parquet
    * footer/row-group stats prune selective scans to the few files whose
    * range overlaps the predicate — at 100 TB the difference between
    * touching 1/N of the files and all of them. (The range partitioner
    * samples the key distribution, so skewed keys still yield balanced
    * files.) The query writes orders ranged+sorted by o_totalprice, reads
    * back through a selective filter, and aggregates; SourcesSpec pins
    * the disjoint-file-range property itself.
    */
  def sortedLayoutWrite(df: DataFrame, sortCol: String, outDir: String,
      partitions: Int): Unit =
    df.repartitionByRange(partitions, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  def s11SortedLayout(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_sorted_layout").toString
    sortedLayoutWrite(t(spark, dir, "orders"), "o_totalprice", tmp,
      partitions = 8)
    spark.read.parquet(tmp)
      .filter(col("o_totalprice") > 400000.0)
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
          ./(100.0).as("total_price"))
  }

  /** Bit-interleaved Z-value of two non-negative integral keys: bit i of
    * `b` lands at position 2i, bit i of `a` at 2i+1 — the classic Morton
    * code. Built as a static fold of shift/mask Columns (one codegen'd
    * expression, no HOF lambda, no UDF).
    */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** S12 — Z-order-lite parquet layout: range-partition + sort on the
    * INTERLEAVED-BITS key of TWO pruning columns before the write. A
    * single-key sorted layout (S11) gives perfect pruning on that key and
    * none on any other; interleaving makes each output file cover a small
    * ~square tile of the (a, b) plane, so parquet min/max footer stats
    * prune selective scans on EITHER dimension — the property real lake
    * layouts (Delta/Iceberg Z-ordering) buy for multi-dimension query
    * mixes.
    *
    * Both keys are min/max-normalized to 13 bits BEFORE interleaving —
    * without that, the wider-ranged key owns all the high z bits and the
    * narrow key degenerates to no pruning at all (Delta solves the same
    * problem with per-column range-partition ids). Linear normalization
    * assumes roughly uniform keys; for heavy skew, substitute rank-based
    * buckets from a sample (the same sampling the range partitioner
    * already does). The stats pass is one columnar min/max agg; the write
    * itself is one shuffle, and the range partitioner keeps files
    * balanced.
    */
  def zorderLayoutWrite(df: DataFrame, colA: String, colB: String,
      outDir: String, partitions: Int): Unit = {
    val st = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).collect()(0)
    if ((0 to 3).exists(st.isNullAt)) {
      // min/max of an empty input (or an all-NULL key column) is NULL —
      // an empty input writes an empty (but valid, schema-carrying)
      // overwrite; all-NULL keys on a non-empty input would silently
      // destroy the layout's pruning contract, so fail loudly instead.
      if (df.isEmpty) {
        df.write.mode(SaveMode.Overwrite).parquet(outDir)
        return
      }
      throw new IllegalArgumentException(
        s"zorderLayoutWrite: min/max of '$colA'/'$colB' is NULL on a " +
          "non-empty input — a layout key column is entirely NULL; " +
          "filter or fill NULL keys before laying out")
    }
    val bits = 13
    val scale = (1L << bits) - 1
    def norm(c: Column, lo: Long, hi: Long): Column =
      floor((c.cast("long") - lo).cast("double") /
        math.max(hi - lo, 1L) * scale).cast("long")
    df.withColumn("__z", zValue(
        norm(col(colA), st.getLong(0), st.getLong(1)),
        norm(col(colB), st.getLong(2), st.getLong(3)), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  def s12ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_zorder_layout").toString
    zorderLayoutWrite(t(spark, dir, "orders"), "o_custkey", "o_orderkey",
      tmp, partitions = 8)
    val back = spark.read.parquet(tmp)
    def slice(label: String, pred: Column) =
      back.filter(pred).agg(
        lit(label).as("dim"),
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
          ./(100.0).as("total_price"))
    // one selective predicate per interleaved dimension — both must read
    // the SAME re-laid-out data correctly (the spec pins the pruning win)
    slice("by_custkey", col("o_custkey") <= 150)
      .union(slice("by_orderkey", col("o_orderkey") <= 600))
  }

  // ------------------------------------------------------------ S3 rows

  /** S3 — in-memory rows → table (ref spark-scripts/spark-project.py:64),
    * with explicit schema instead of dict inference: the reference's
    * day-abbreviation lookup table (dags/projectde_dag.py:68-76) as data.
    */
  def s3RowsTable(spark: SparkSession, dir: String): DataFrame = {
    val data = Seq(
      ("Mo", "Monday"), ("Tu", "Tuesday"), ("We", "Wednesday"),
      ("Th", "Thursday"), ("Fr", "Friday"), ("Sa", "Saturday"),
      ("Su", "Sunday"))
    val schema = StructType(Seq(
      StructField("day_abbrev", StringType, nullable = false),
      StructField("day_name", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.map(p => Row(p._1, p._2)), 1),
      schema)
  }

  // ------------------------------------------------------------- S8 LIMIT

  /** S8 — deterministic row preview (ref `SELECT * FROM retail LIMIT 5`,
    * sql/ingest-retail.sql:2; made order-stable with an explicit sort).
    * Plans as TakeOrderedAndProject — no global sort.
    */
  def s8LimitPreview(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").orderBy(col("c_custkey")).limit(5)

  // --------------------------------------------------------------- S9 DDL

  /** S9 — DDL/catalog surface (ref sql/ddl-retail.sql, sql/warehouse-ddl.sql):
    * temp view over parquet + SQL query through the catalog.
    */
  def s9DdlCatalog(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW nation_v
                  USING parquet OPTIONS (path '$dir/nation.parquet')""")
    spark.sql("""SELECT n_regionkey, count(*) AS nations
                 FROM nation_v GROUP BY n_regionkey""")
  }

  // -------------------------------------------------------------- S4 JDBC

  /** S4 — JDBC overwrite sink (ref dags/projectde_dag.py:144-150: DROP +
    * to_sql replace). No live database in the sandbox: this builds the
    * configured writer (e2e-tested via the parquet path, writer options
    * unit-tested — SURVEY §7.4 risk 7). SaveMode.Overwrite = drop+recreate,
    * matching the reference.
    */
  def jdbcOverwriteWriter(df: DataFrame, url: String, table: String,
      user: String = "", password: String = "") =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("truncate", "false") // full drop+recreate like the reference
      .mode(SaveMode.Overwrite)

  /** S4 e2e — live JDBC round-trip through an embedded Derby database (the
    * Derby jars ship with Spark's Hive-metastore dependency, so this runs
    * offline; in production the same writer points at the warehouse URL,
    * ref dags/projectde_dag.py:144-150, 240-245).
    *
    * The overwrite CONTRACT is asserted by construction: a stale decoy
    * table with a different schema and junk rows is written first, then
    * overwritten with the real relation. If overwrite were append or
    * truncate-keep-schema, the read-back would carry the decoy's schema or
    * rows and the oracle hash would mismatch — a hash-green run proves
    * drop+recreate end to end.
    */
  def s4JdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // keep derby.log out of the repo working dir
    System.setProperty("derby.system.home",
      System.getProperty("java.io.tmpdir"))
    val url = "jdbc:derby:memory:graft_s4;create=true"
    val decoy = t(spark, dir, "nation").limit(3)
      .select(col("n_nationkey"), lit("stale").as("junk"))
    jdbcOverwriteWriter(decoy, url, "graft_nation").save()
    val src = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    jdbcOverwriteWriter(src, url, "graft_nation").save()
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "graft_nation")
      .load()
  }

  /** S13 — ORC sink + schema-explicit scan (Spark's second built-in
    * columnar format; some lakehouse estates are ORC-native). Same
    * round-trip contract as [[s10JsonRoundtrip]]: write, read back with an
    * explicit schema, and the oracle checks the rows survived the format
    * — predicate pushdown and column pruning work through the ORC reader
    * exactly as through parquet.
    */
  def s13OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_orc_sink").toString
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode(SaveMode.Overwrite).orc(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).orc(tmp)
  }

  /** S14 — hive-style partitioned layout: `partitionBy(k)` on write puts
    * each key value in its own directory, so a scan filtering on k never
    * opens the other directories (partition PRUNING — visible as
    * `PartitionFilters` in the plan, pinned in SourcesSpec). The
    * difference at 100 TB between listing 1/|k| of the files and reading
    * everything. The query writes events partitioned by event_type and
    * aggregates one partition through the pruned read-back.
    */
  def s14PartitionedScan(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_part_layout").toString
    val projected = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    projected
      .write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(tmp)
    // Explicit schema on the re-read (data cols + the partition col):
    // no inference pass gets scheduled — the 100 TB contract — and a
    // zero-row write (which materializes no partition dirs) still reads
    // back as a typed empty frame instead of UNABLE_TO_INFER_SCHEMA.
    spark.read.schema(projected.schema).parquet(tmp)
      .filter(col("event_type") === "click")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
  }

  /** S15 — SCHEMA EVOLUTION at the source: two parquet generations of
    * the same dataset — generation 1 written before a `source` column
    * existed, generation 2 with it — read back as ONE table under
    * `mergeSchema`, old rows surfacing NULL for the later column. The
    * ingest reality of a long-lived lake: a column addition must not
    * force a rewrite of petabytes of old files.
    *
    * Scale note: `mergeSchema=true` unions schemas by sweeping file
    * footers — fine per-ingest-batch; a 100 TB lake pins the evolved
    * schema explicitly once known (the [[s13OrcRoundtrip]]/[[
    * s14PartitionedScan]] explicit-schema discipline) and keeps the
    * footer sweep out of the hot path.
    */
  def s15SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_schema_evo").toString
    val docs = t(spark, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/gen1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/gen2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/gen1", s"$tmp/gen2")
      .groupBy(col("lang"), col("source")) // NULL for generation-1 rows
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  /** S16 — malformed-row handling at the SOURCE (the scan-level form of
    * the F4 arity guard): a CSV with a type-corrupt row and an
    * arity-short row read under `mode=DROPMALFORMED` keeps exactly the
    * parseable rows — corrupt rows die at the scan, before any operator
    * sees them. (PERMISSIVE + `columnNameOfCorruptRecord` is the
    * quarantine-table variant; same reader options.)
    */
  def s16MalformedCsv(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_badcsv").toString
    val csv = Seq(
      "id,name,score",
      "1,alpha,10",
      "2,beta,oops", // type-corrupt score -> dropped
      "3,,30", // null name -> kept (null is data, not malformation)
      "4,delta", // arity-short -> dropped
      "5,echo,50").mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/rows.csv"), csv)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("score", IntegerType)))
    spark.read.schema(schema)
      .option("header", true).option("mode", "DROPMALFORMED")
      .csv(tmp)
  }

  /** Compact a directory of small parquet files into `targetFiles` —
    * the table-maintenance job every lakehouse runs: many small files
    * mean many tasks, many footer reads, and a slow listing at 100 TB.
    * `coalesce` on the READ side merges partitions without a shuffle
    * (compaction is IO-bound; a `repartition` would pay a full shuffle
    * for nothing when output order doesn't matter).
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetFiles: Int): Unit =
    spark.read.parquet(inDir).coalesce(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** S17 — small-file compaction round-trip: fragment orders into 64
    * files, compact to 4, prove the data survived byte-exact (the oracle
    * checks the aggregate; SourcesSpec pins the file counts).
    */
  def s17Compaction(spark: SparkSession, dir: String): DataFrame = {
    val frag = scratchDir("graft_frag").toString
    val compacted = scratchDir("graft_compact").toString
    t(spark, dir, "orders").repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(frag)
    compactParquet(spark, frag, compacted, targetFiles = 4)
    spark.read.parquet(compacted)
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
          ./(100.0).as("total_price"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s13_orc_roundtrip" -> (s13OrcRoundtrip _),
    "s14_partitioned_scan" -> (s14PartitionedScan _),
    "s15_schema_evolution" -> (s15SchemaEvolution _),
    "s16_malformed_csv" -> (s16MalformedCsv _),
    "s17_compaction" -> (s17Compaction _),
    "s1_html_table_scan" -> (s1HtmlTableScan _),
    "s1b_html_dsv2" -> (s1bHtmlDsv2 _),
    "s2_csv_scan" -> (s2CsvScan _),
    "s3_rows_table" -> (s3RowsTable _),
    "s4_jdbc_roundtrip" -> (s4JdbcRoundtrip _),
    "s5_csv_sink" -> (s5CsvSink _),
    "s10_json_roundtrip" -> (s10JsonRoundtrip _),
    "s11_sorted_layout" -> (s11SortedLayout _),
    "s12_zorder_layout" -> (s12ZorderLayout _),
    "s8_limit_preview" -> (s8LimitPreview _),
    "s9_ddl_catalog" -> (s9DdlCatalog _),
  )

  val oracle: Map[String, String] = Map(
    "s13_orc_roundtrip" -> """
      SELECT doc_id, lang, source, n_chars FROM documents""",
    "s14_partitioned_scan" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events WHERE event_type = 'click' GROUP BY 1""",
    "s15_schema_evolution" -> """
      SELECT lang,
        CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1, 2""",
    "s16_malformed_csv" -> """
      SELECT * FROM (VALUES
        (1, 'alpha', 10),
        (3, CAST(NULL AS VARCHAR), 30),
        (5, 'echo', 50)) AS t(id, name, score)""",
    "s17_compaction" -> """
      SELECT count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          / 100.0 AS total_price
      FROM orders""",
    "s1b_html_dsv2" -> """
      SELECT * FROM (VALUES
        ('Sa 15 Feb', 'Arsenal', 'Chelsea', 2, 1),
        ('Su 16 Feb', 'Leeds', 'Fulham', 0, 0),
        ('Mo 17 Feb', 'Spurs', 'Everton', 1, 3),
        ('Tu 18 Feb', 'Wolves', 'Brighton', 2, 2))
      AS t(date, home_team, away_team, home_score, away_score)""",
    "s1_html_table_scan" -> """
      SELECT * FROM (VALUES
        ('Sa 15 Feb', 'Arsenal', 'Chelsea', 2, 1),
        ('Su 16 Feb', 'Leeds', 'Fulham', 0, 0),
        ('Mo 17 Feb', 'Spurs', 'Everton', 1, 3),
        ('Tu 18 Feb', 'Wolves', 'Brighton', 2, 2))
      AS t(date, home_team, away_team, home_score, away_score)""",
    "s2_csv_scan" -> "SELECT r_regionkey, r_name FROM region",
    "s3_rows_table" -> """
      SELECT * FROM (VALUES
        ('Mo', 'Monday'), ('Tu', 'Tuesday'), ('We', 'Wednesday'),
        ('Th', 'Thursday'), ('Fr', 'Friday'), ('Sa', 'Saturday'),
        ('Su', 'Sunday')) AS t(day_abbrev, day_name)""",
    "s4_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s5_csv_sink" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s10_json_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    "s11_sorted_layout" -> """
      SELECT count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price
      FROM orders WHERE o_totalprice > 400000.0""",
    "s12_zorder_layout" -> """
      SELECT 'by_custkey' AS dim, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price
      FROM orders WHERE o_custkey <= 150
      UNION ALL
      SELECT 'by_orderkey' AS dim, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          AS total_price
      FROM orders WHERE o_orderkey <= 600""",
    "s8_limit_preview" -> "SELECT * FROM customer ORDER BY c_custkey LIMIT 5",
    "s9_ddl_catalog" ->
      "SELECT n_regionkey, count(*) AS nations FROM nation GROUP BY 1",
  )
}
