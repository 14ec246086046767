package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains' output code that needs no session: Bench's stdout summary
  * line, and the JSON writer that Verify's files go through.
  */
class BenchOutputSpec extends AnyFunSuite {
  private val diagnostics = ListMap[String, Any](
    "rss_mb" -> 812L, "gc_ms" -> 345L, "cal_st" -> 1.234, "cal_mt" -> 1.456)
  private val ratios = ListMap[String, Any]("svd_geomean" -> 1.23, "svd_n" -> 40)
  private val vsBaseline = ListMap[String, Any](
    "vsb_total" -> 0.97, "vsb_n" -> 160, "vsb_cal_ratio" -> 1.012)

  /** `n` rows shaped like a full run: the composite index row, the three
    * family rows, then query rows of three reps each; every 20th query
    * row has a failed rep.
    */
  private def rows(n: Int): Seq[(String, Seq[Double])] = {
    val family = Bench.indexFamilyRows.map(_ -> Seq(1.5, 1.25, 1.75))
    val queries = (0 until n - 4).map { i =>
      val s = 0.1 + i * 0.037
      f"query_row_$i%03d" ->
        (if (i % 20 == 7) Seq(s, -1.0, s) else Seq(s * 1.1, s, s * 1.3))
    }
    ((Bench.indexBuildRow -> Seq(4.5, 3.75, 5.25)) +: family) ++ queries
  }

  private def line(rs: Seq[(String, Seq[Double])]) =
    Bench.summaryLine(rs, 3, diagnostics, ratios, vsBaseline, "sf0.1")

  test("a full-suite line elides to the slowest rows and keeps the total") {
    val rs = rows(173)
    val out = line(rs)
    assert(out.length <= Bench.LineLimit, s"${out.length} chars")
    val node = Json.mapper.readTree(out)
    assert(node.fieldNames().asScala.toSeq == Seq("metric", "value",
      "value_median", "unit", "queries", "queries_elided", "failed",
      "vsb_total", "vsb_n", "vsb_cal_ratio", "sf"))
    val failed = rs.collect { case (k, ss) if ss.contains(-1.0) => k }
    assert(failed.size == 9)
    assert(node.get("failed").elements().asScala.map(_.asText).toSeq == failed)
    val shown = node.get("queries").fieldNames().asScala.toSet
    assert(failed.forall(shown.contains), "every failed row is on the line")
    assert(shown.size == 40 + failed.size)
    assert(node.get("queries_elided").asInt == rs.size - shown.size)
    val total = rs.collect {
      case (k, ss) if !Bench.indexFamilyRows.contains(k) &&
          !ss.contains(-1.0) => ss.min
    }.sum
    assert(math.abs(node.get("value").asDouble - total) < 1e-3)
  }

  test("a short suite prints the full line with its diagnostics") {
    val node = Json.mapper.readTree(line(rows(5)))
    assert(node.fieldNames().asScala.toSeq == Seq("metric", "value",
      "value_median", "unit", "queries", "reps", "failed", "rss_mb", "gc_ms",
      "cal_st", "cal_mt", "svd_geomean", "svd_n", "vsb_total", "vsb_n",
      "vsb_cal_ratio", "sf"))
    assert(node.get("rss_mb").asLong == 812L)
    assert(node.get("queries").size == 5)
    // the composite counts the family's seconds once: 3.75 + 0.1
    assert(node.get("value").asDouble == 3.85)
    assert(node.get("value_median").asDouble == 4.61)
  }

  test("oracle SQL with control characters round-trips through the writer") {
    val sql = Map(
      "tab" -> "SELECT\t1", "crlf" -> "SELECT 1\r\nFROM t",
      "quote" -> "SELECT '\"x\"'", "backslash" -> "SELECT '\\d+'",
      "ctrl" -> "SELECT '\u0001'")
    val f = Files.createTempFile("oracle_sql", ".json")
    try {
      Json.write(f.toString, sql)
      val text = Files.readString(f)
      assert(!text.exists(_ < ' '), "raw control characters break json.load")
      assert(Json.mapper.readValue(f.toFile, classOf[Map[String, String]]) == sql)
    } finally Files.delete(f)
  }
}
