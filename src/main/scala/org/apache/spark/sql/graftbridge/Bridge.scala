package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Expression⇄Column converters in
  * Spark 4's classic API (columnNodeSupport.scala) and the
  * `private[spark]` listener bus. Lives under `org.apache.spark.sql`
  * solely to satisfy the access modifiers; all graft code goes through
  * these calls.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until `sc`'s listener bus has delivered every event posted so
    * far; throws a TimeoutException after `timeoutMs`.
    */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Replay the function builders injected into `ext` onto a live
    * session's registry (`sessionState` / `registerFunctions` are
    * `private[sql]`).
    */
  def registerInjectedFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                                spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ext.registerFunctions(classic.sessionState.functionRegistry)
  }
}
