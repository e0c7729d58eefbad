package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 keeps `ExpressionUtils`
  * private[sql]; extension libraries that define native Catalyst
  * expressions conventionally expose this pair from a bridge package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an analyzed logical plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every event posted so far has reached every listener
    * (the listener bus is private[spark]): after an action returns, its
    * job events are already posted, so a listener's counts are exact
    * once this returns.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a file or directory name Spark's file index skips when it
    * lists a table: `_`- and `.`-prefixed names and `._COPYING_` files,
    * except parquet's `_metadata` and `_common_metadata` summaries.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
