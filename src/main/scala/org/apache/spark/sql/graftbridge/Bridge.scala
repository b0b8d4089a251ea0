package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan seam, plus the listener
  * bus drain that `graft.obs` needs. Spark 4 made the
  * helpers `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * `classic.Dataset.ofRows`), so this one-file bridge lives inside the
  * org.apache.spark.sql package tree — the same pattern third-party Catalyst
  * extension libraries use. Nothing else in the engine touches Spark
  * internals beyond public Expression/Strategy APIs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[_]].logicalPlan
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
