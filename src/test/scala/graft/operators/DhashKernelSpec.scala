package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The compiled dHash kernel is bit-identical to the SQL lambda it
  * replaced, on every image of the sf0.001 pixel index. */
class DhashKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("mmDhash equals the transform(sequence(0, 63), ...) reference on " +
      "every row of the pixel index") {
    assume(new java.io.File(dir).isDirectory, s"$dir absent")
    def gray(idx: String): String =
      s"((px[$idx] >> 16) & 255) + ((px[$idx] >> 8) & 255) + (px[$idx] & 255)"
    val py = "(((uv div 8) * h) div 8)"
    val a = gray(s"($py * w + (((uv % 8) * w) div 9))")
    val b = gray(s"($py * w + ((((uv % 8) + 1) * w) div 9))")
    val reference = Multimodal.pixelIndex(spark, dir)
      .select(col("doc_id"),
        expr(s"array_join(transform(sequence(0, 63), uv -> " +
          s"CASE WHEN ($a) < ($b) THEN '1' ELSE '0' END), '')").as("dhash"))
    def hashes(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = hashes(reference)
    val got = hashes(Multimodal.mmDhash(spark, dir))
    val nPixels = Multimodal.pixelIndex(spark, dir).count()
    assert(want.size == nPixels && nPixels > 0)
    val differ = want.keys.filter(k => got.get(k) != want.get(k))
    assert(got.size == want.size && differ.isEmpty,
      s"${differ.size} of ${want.size} hashes differ, e.g. doc " +
        s"${differ.headOption.map(k => s"$k: ${got.get(k)} vs ${want(k)}")}")
  }
}
