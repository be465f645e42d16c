package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression conversion (Spark 4
  * routes Columns through ColumnNode, so library code needs this one-line
  * shim in the sql package to attach a custom Catalyst Expression — the
  * same technique Spark extension libraries use). */
object GraftExpressionBridge {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row, one-column DataFrame as a scalar-subquery expression
    * (catalyst ScalarSubquery is private[sql]-adjacent machinery). The
    * subquery plan executes once per query and its value is embedded into
    * every task — the same shape Spark's AQE-injected runtime Bloom
    * filters use, and the required form for BloomFilterMightContain's
    * filter argument. */
  def scalarSubquery(df: DataFrame): Column =
    ExpressionUtils.column(
      catalyst.expressions.ScalarSubquery(df.queryExecution.logical))

  /** Register a function builder on a live session's FunctionRegistry
    * (sessionState is private[sql]; SparkSessionExtensions covers the
    * build-time path, this covers sessions the caller didn't construct). */
  def registerFunction(
      spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
