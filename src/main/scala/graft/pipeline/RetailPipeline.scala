package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.Tables

/** EP3 equivalent (ref Makefile:103-135 + sql/): the retail CSV bulk-load
  * path — `COPY retail FROM csv HEADER` + preview — as an explicit-schema
  * CSV scan landing a parquet (or JDBC) warehouse table.
  *
  * Scale notes: explicit schema means single-pass ingest; the CSV scan
  * splits by file block, the write re-partitions only if asked. The
  * Metabase-style consumption side is arbitrary Spark SQL over the landed
  * table.
  */
object RetailPipeline {

  /** Ingest a retail CSV into `$outDir/retail`; returns the landed table. */
  def ingest(spark: SparkSession, csvPath: String, outDir: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .schema(Tables.retailSchema)
      .csv(csvPath)
    df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/retail")
    spark.read.parquet(s"$outDir/retail")
  }

  /** The ingest sanity check (ref sql/ingest-retail.sql:2). */
  def preview(retail: DataFrame): Array[org.apache.spark.sql.Row] =
    retail.orderBy("InvoiceNo", "StockCode").limit(5).collect()
}
