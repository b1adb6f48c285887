package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into `private[sql]` surface needed to lift a custom Catalyst
  * Expression into a public `Column` (standard extension-point technique —
  * the alternatives are registering a FunctionBuilder per session or string
  * SQL, both heavier for a library-internal expression), and to register a
  * FunctionBuilder as a session's temporary function. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted eagerly, as a SQL FunctionBuilder must return it:
    * [[expression]] may leave a lazy wrapper (UDF calls, built-in function
    * calls) that only a DataFrame can unwrap. */
  def sqlExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier, info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
