package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** Golden pins for every query whose result comes out of a round loop:
  * the classifier and DoReMi codebook loops, the BPE merge loop, and the
  * pair-graph loops (cluster labels and its consumers, PageRank, label
  * propagation, k-core, k-hop). Each key's schema (names, types,
  * nullability) and the SHA-256 of its canonically sorted rows are
  * pinned in `loop_golden.tsv`, so a change to how a loop runs is
  * checked against the recorded output without DuckDB.
  *
  * After an intentional output change, regenerate the resource from the
  * failure message, which prints every key's current line.
  */
class LoopGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.01"

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def schemaOf(df: DataFrame): String =
    df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
      .mkString(",")

  private def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(r => r.toSeq.map(cell).mkString("\t")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private val golden: Map[String, (String, Long, String)] =
    scala.io.Source.fromResource("loop_golden.tsv").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(a => a(0) -> ((a(1), a(2).toLong, a(3)))).toMap

  /** Every key reaching a rewritten loop, directly or through
    * dedupClusters / corpusCurate / the BPE encoder, plus the k-means and
    * PCA power-iteration loops of Similarity. */
  private val keys = Seq(
    "text_classifier_train", "text_classifier_eval",
    "text_bpe_train", "text_bpe_encode", "text_fertility",
    "cur_token_budget_bpe", "cur_doremi_mix",
    "graph_pagerank", "graph_label_prop", "graph_kcore", "graph_khop",
    "cur_dedup_clusters", "cur_keep_best", "cur_split_leakfree",
    "cur_soft_dedup", "cur_corpus_curate", "dedup_cluster_stats",
    "cur_shard_plan", "cur_pack_sequences", "cur_pack_assemble",
    "sim_ivf_kmeans", "sim_pca_power")

  test("round-loop keys: schema and sorted-row SHA-256 equal the pinned " +
      "golden values at sf0.01") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    val actual = keys.map { k =>
      val df = SparkEntry.queries(k)(spark, dir)
      val (n, sha) = digest(df)
      k -> ((schemaOf(df), n, sha))
    }
    val lines = actual.map { case (k, (s, n, h)) => s"$k\t$s\t$n\t$h" }
    val bad = actual.filterNot { case (k, v) => golden.get(k).contains(v) }
    if (bad.nonEmpty) fail(
      s"keys diverged from loop_golden.tsv: ${bad.map(_._1).mkString(", ")}" +
        s"\ncurrent lines:\n${lines.mkString("\n")}")
  }
}
