package graft.expr

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.BoundValue

/** The reference's match-cleaning semantics (dags/projectde_dag.py:61-131)
  * as pure Column expressions over the `matches_raw` shape
  * (FIXTURES.md §A): junk filters, day-name lookup, year-inferred date
  * parse, null-safe score split, Jakarta-rendered batch timestamp, match
  * points, per-league dense ids.
  *
  * Determinism contract (SURVEY §2): wall clock (`asOf`, `runTs`) and
  * scrape order (`ordinal`) are explicit inputs, never ambient.
  *
  * Scale notes: everything row-local except the per-league id window —
  * partitioned by league and ordered by the source ordinal, it never
  * concentrates more than one league on a task.
  */
object MatchExprs {

  /** Day-abbreviation lookup with pass-through default
    * (ref dags/projectde_dag.py:68-76). Constant-folds.
    */
  val dayMap: Column = typedLit(Map(
    "Mo" -> "Monday", "Tu" -> "Tuesday", "We" -> "Wednesday",
    "Th" -> "Thursday", "Fr" -> "Friday", "Sa" -> "Saturday",
    "Su" -> "Sunday"))

  private val monthsH1 = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul")

  /** Full cleaning pipeline: matches_raw → reference `matches` table shape
    * (column order per dags/projectde_dag.py:124 + derived results at
    * :128-129). Malformed dates and future matches are dropped; malformed
    * scores yield null score columns.
    */
  def clean(raw: DataFrame, asOf: LocalDate, runTs: String): DataFrame = {
    // The reference's cleaning is null-on-failure end to end (try/except
    // drop, None scores, dict.get defaults); the session must carry the
    // GraftSession non-ANSI contract — Spark 4's ANSI default would throw
    // on the same inputs (date parse, map miss, short arrays).
    val sp = split(col("date"), " ", 2)
    val dayTok = element_at(sp, 1)
    val rest = element_at(sp, 2) // "15 Feb"
    val monTok = element_at(split(rest, " "), 2)
    // X5 year inference: Jan–Jul → season-end year (asOf's), else prior
    // (ref hardcodes 2025/2024 at dags/projectde_dag.py:82-83).
    // `asOf` and the years derived from it change every run, so they
    // enter the plan as bound values: inlined literals would make each
    // run generate, and compile, its own code.
    val year = when(monTok.isin(monthsH1: _*), BoundValue(asOf.getYear))
      .otherwise(BoundValue(asOf.getYear - 1))
    val scoreArr = split(col("score"), " - ")
    val cleaned = raw
      // F1 junk rows (ref :46-47)
      .filter(!col("date").isin("Averages", "Percentages") &&
        col("home_team") =!= "Totals")
      .withColumn("day", coalesce(element_at(dayMap, trim(dayTok)), dayTok))
      .withColumn("match_date",
        to_date(concat_ws(" ", trim(rest), year), "d MMM yyyy"))
      // F5 unparseable-date drop (ref try/except at :89-93)
      .filter(col("match_date").isNotNull)
      // F3 drop today and future, KEEP yesterday (ref :63-64, 96-97: the
      // daily 09:00 run drops match_date >= now-1day, and yesterday's
      // date-at-midnight sorts before yesterday-09:00 — so the most recent
      // full day stays in). `< asOf`, not `< asOf-1day`.
      .filter(col("match_date") < BoundValue(asOf))
      // X2 null-safe score split (ref :100-102)
      .withColumn("home_score",
        when(size(scoreArr) >= 2, expr("try_cast(trim(split(score, ' - ')[0]) AS INT)")))
      .withColumn("away_score",
        when(size(scoreArr) >= 2, expr("try_cast(trim(split(score, ' - ')[1]) AS INT)")))
      // X8 batch timestamp rendered in Asia/Jakarta (ref :120-122). It
      // folds to a string literal, which generated code already reads
      // through a reference, so `runTs` needs no bound value.
      .withColumn("created_at",
        date_format(from_utc_timestamp(lit(runTs).cast("timestamp"),
          "Asia/Jakarta"), "yyyy-MM-dd HH:mm:ss"))
      // X10 match points (ref :128-129)
      .withColumn("result_home",
        when(col("home_score") > col("away_score"), 3)
          .when(col("home_score") === col("away_score"), 1).otherwise(0))
      .withColumn("result_away",
        when(col("away_score") > col("home_score"), 3)
          .when(col("away_score") === col("home_score"), 1).otherwise(0))
    // O2 per-league dense id over explicit scrape ordinal (ref :117)
    val idW = Window.partitionBy(col("league")).orderBy(col("ordinal"))
    cleaned
      .withColumn("id", row_number().over(idW))
      .select("id", "day", "match_date", "home_team", "home_score",
        "away_team", "away_score", "league", "created_at",
        "result_home", "result_away")
      .withColumnRenamed("match_date", "date")
  }
}
