package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 keeps `ExpressionUtils`
  * private[sql]; extension libraries that define native Catalyst
  * expressions conventionally expose this pair from a bridge package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every listener
    * (the listener bus is private[spark]): after an action returns, its
    * job events are already posted, so a listener's counts are exact
    * once this returns.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
