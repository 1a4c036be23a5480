package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Expression <-> Column bridge. Spark 4 hides the classic converters
  * behind `private[sql]`; extensions that ship custom Catalyst expressions
  * conventionally expose them via a shim in the sql package. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree into a catalyst expression tree
    * (Unresolved* nodes included, which the analyzer then resolves).
    * `expression` instead wraps the node lazily in a ColumnNodeExpression
    * placeholder — fine inside Dataset plan construction, but opaque (and
    * uncodegen-able) when returned from a FunctionRegistry builder. */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `df.collect()` without the conversion to `Row`: the Catalyst rows
    * themselves, in one tracked SQL execution as `collect` runs. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A frame over Catalyst rows of `schema` (a local relation). */
  def localFrame(df: DataFrame, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
