package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** The IEEE-754 sortable key of a double child as a long — the interval
  * join's tick for floating endpoints. Keys compare exactly as Spark SQL
  * compares the doubles: −0.0 = 0.0, every NaN equal, NaN above +∞. Spark
  * SQL has no double-to-bits function; a UDF would leave whole-stage
  * codegen, and `reflect` goes through a string on every row. */
case class DoubleTickKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any = DoubleTickKey.key(input.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.expressions.DoubleTickKey.key($x)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DoubleTickKey {
  /** `b ^ ((b >> 63) & Long.MaxValue)` for `b = doubleToLongBits(x)`, −0.0
    * first mapped to 0.0; `doubleToLongBits` collapses every NaN to one. */
  def key(x: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x)
    b ^ ((b >> 63) & Long.MaxValue)
  }
}
