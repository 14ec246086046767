package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise running sum + count for embedding centroids. */
case class CentroidBuf(sums: Array[Double], var n: Long)

/** Typed custom aggregate (SURVEY §2.10's planned `Aggregator` surface):
  * per-group element-wise mean of `array<float>` embeddings. Every
  * vector must have exactly `dim` elements; any other length fails the
  * aggregate rather than being padded or truncated.
  *
  * Scale notes: the buffer is a fixed-size double array — partial
  * aggregation runs map-side, so the shuffle carries one (dim·8)-byte
  * buffer per (partition, group), not the vectors. `reduce`/`merge` mutate
  * the buffer in place (no per-row allocation). Double sums of float
  * inputs commute to well below 1e-12 relative error, so merge order
  * (which Spark does not fix) cannot move a 6-decimal-rounded result.
  */
class CentroidAggregator(dim: Int)
    extends Aggregator[Seq[Float], CentroidBuf, Seq[Double]] {

  override def zero: CentroidBuf = CentroidBuf(Array.fill(dim)(0.0), 0L)

  override def reduce(b: CentroidBuf, v: Seq[Float]): CentroidBuf = {
    require(v.length == dim,
      s"centroid of $dim-dim embeddings got a vector of length ${v.length}")
    var i = 0
    while (i < dim) { b.sums(i) += v(i); i += 1 }
    b.n += 1
    b
  }

  override def merge(a: CentroidBuf, b: CentroidBuf): CentroidBuf = {
    var i = 0
    while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
    a.n += b.n
    a
  }

  override def finish(b: CentroidBuf): Seq[Double] =
    if (b.n == 0) Seq.fill(dim)(0.0)
    else b.sums.map(_ / b.n).toSeq

  override def bufferEncoder: Encoder[CentroidBuf] =
    Encoders.product[CentroidBuf]

  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()
}

object CentroidAggregator {
  /** Column-form centroid aggregate over an array<float> column. */
  def centroid(dim: Int): Column => Column = {
    val fn = udaf(new CentroidAggregator(dim))
    (c: Column) => fn(c)
  }
}
