package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.Column

/** Bridge between user-space Catalyst `Expression`s and `Column`s.
  *
  * Spark 4 made the Column↔Expression conversions `private[sql]`
  * (columnNodeSupport.scala in the Spark source); third-party engines
  * extend Spark by hosting a small shim inside the `org.apache.spark.sql`
  * namespace — the same pattern Spark-native libraries use publicly.
  * Only these two conversions live here; all graft logic stays in the
  * `graft` package.
  */
object ExprBridge {
  def toColumn(e: Expression): Column = new Column(ExpressionColumnNode(e))
  def toExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Build a DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field, nested ones included, nullable — the
    * schema a parquet read with a user-given schema reports. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Register a function builder on a live session's registry. */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
