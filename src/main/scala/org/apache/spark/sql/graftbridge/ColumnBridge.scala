package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's `private[sql]` Column↔Expression conversion, for
  * registering custom Catalyst expressions (e.g. [[graft.text.SimHash64]])
  * as user-facing Columns. Lives under `org.apache.spark.sql` solely to
  * satisfy the access modifier — the standard extension-library pattern.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (Dataset.ofRows is
    * private[sql]) — needed to inject custom LogicalPlan nodes like
    * [[graft.plans.GroupTopKNode]].
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's unique id (`sessionUUID` is private[sql]) — a key for
    * session-scoped caches that never collides across sessions.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
