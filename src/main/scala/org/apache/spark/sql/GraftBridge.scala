package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` classic Column<->Expression
  * converters, so graft's custom Catalyst expressions ([[graft.functions
  * .SimHash64]], [[graft.functions.DotProduct]]) can be exposed as
  * `Column`s. Spark 4 moved these behind the Connect-compatible Column
  * API; this is the supported classic-mode escape hatch.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The classic session's `private[sql]` sessionUUID — a stable unique
    * per-instance id (used for derived-table cache keys); None for a
    * non-classic session.
    */
  def sessionUUID(s: SparkSession): Option[String] = s match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _                       => None
  }

  /** Block until the `private[spark]` listener bus has delivered every
    * queued event, so a listener's counters are complete when read.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
