package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge into Spark's `private[sql]` Expression↔Column
  * converters (Spark 4 removed the public `Column(expr)` constructor and
  * `Column.expr`). This object lives in a subpackage of
  * `org.apache.spark.sql` solely to satisfy the access qualifier; no
  * Spark internals are modified or shadowed. */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — the constructor custom
    * operators need (Dataset.ofRows is private[sql]). */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Block until every queued listener-bus event has been delivered —
    * QueryExecutionListener callbacks are asynchronous, so a metrics
    * reader that runs right after an action needs this barrier
    * (`listenerBus.waitUntilEmpty` is private[spark]). */
  def waitForListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
