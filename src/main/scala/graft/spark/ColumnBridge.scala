/* Bridge into Spark's private[sql] Column <-> Expression conversion.
 * Spark 4.x removed the public `Column.expr`; extension libraries that
 * define native Catalyst expressions use a same-package bridge to the
 * supported `classic.ExpressionUtils` conversions. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def dataFrame(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
