package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge for the engine's custom logical plans —
  * the standard pattern for extension libraries that construct their own
  * LogicalPlan nodes: `Dataset.ofRows` and Column→Expression conversion
  * are package-private to `org.apache.spark.sql`, so this object lives in
  * a subpackage to re-export exactly the entry points needed.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Session-aware conversion: the bare ExpressionUtils form returns a
    * lazy ColumnNodeExpression wrapper (unresolved, non-serializable);
    * the session's converter produces the real catalyst expression. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Blocks until every event already posted to the context's listener
    * bus has been delivered (`waitUntilEmpty` is `private[spark]`); a
    * listener read after this sees every job that finished before the
    * call. Throws `TimeoutException` after Spark's 10 s limit. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
