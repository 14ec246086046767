package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-run value (a run date, a year derived from it) bound into a
  * plan without being written into its generated code.
  *
  * Spark inlines int, long, date and timestamp literals into the Java
  * source it generates, so a plan that differs from yesterday's only in
  * such a literal compiles new classes on every run, and each of them
  * lands in the JVM-wide codegen cache. `BoundValue` reads its value
  * through `ctx.addReferenceObj` instead, the path Spark already takes
  * for string literals: the generated source is the same for every value
  * and compiles once per session.
  *
  * Deterministic but not foldable, so the optimizer keeps it as a
  * reference rather than folding it back into a literal. Non-null.
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "BoundValue takes a non-null value")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  override def toString: String = s"bound(${Literal(value, dataType)})"
}

object BoundValue {
  /** `v` (any Scala or Java value `lit` accepts) as a bound column. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    org.apache.spark.sql.GraftColumnBridge.column(BoundValue(l.value, l.dataType))
  }
}
