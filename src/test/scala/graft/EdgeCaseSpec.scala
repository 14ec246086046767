package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** EMPTY-CORPUS contract over the ENTIRE query surface: at 100 TB empty
  * inputs are routine (a fresh partition, a filtered-out day, a source
  * that produced nothing), and a library operator must either return a
  * typed empty result or fail with a NAMED IllegalArgumentException —
  * never an NPE, a schema-inference crash, or a null-unboxing error
  * three operators downstream.
  *
  * A small NAMED set of operators is ALLOWED to reject an empty corpus,
  * each with a message naming the cause: the PQ variants and their
  * recall readout (a codebook cannot be trained on zero seed vectors),
  * the drift monitor (a reference profile of zero events cannot
  * normalize bin shares), and the power-iteration PCA (no iterate
  * exists over zero rows).
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val loudRejects = Map(
    "sim_pq_ann" -> "codebook",
    "sim_ivfpq_ann" -> "codebook",
    "sim_ivfpq_recall" -> "codebook", // composes sim_ivfpq_ann's codebook
    "sim_pca_power" -> "empty corpus",
    "st11_drift_monitor" -> "reference profile is empty",
  )

  private lazy val emptyDir: String = {
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every query on a zero-row corpus: typed empty result, or a " +
      "named IllegalArgumentException for the allowlisted data-dependent ops") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (k, q) =>
        try {
          val n = q(spark, emptyDir).count()
          if (loudRejects.contains(k))
            Seq(s"$k: expected a loud reject on empty input, got rows=$n")
          else Nil
        } catch {
          case e: IllegalArgumentException
              if loudRejects.get(k).exists(m =>
                Option(e.getMessage).exists(_.contains(m))) => Nil
          case e: Throwable =>
            Seq(s"$k: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("")
                .linesIterator.take(1).mkString.take(160))
        }
    }
    assert(violations.isEmpty,
      s"\nEMPTY-CORPUS CONTRACT VIOLATIONS:\n${violations.mkString("\n")}")
  }
}
