package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The Spark internals graft needs that the public API does not expose
  * (they are `private[sql]` or `private[spark]`):
  *
  *   - the two catalyst↔DataFrame bridges of the SQL DML face: wrapping an
  *     analyzer-produced catalyst `Expression` as a `Column`, and turning a
  *     resolved `LogicalPlan` (a MERGE statement's USING side) back into a
  *     `DataFrame`;
  *   - a deterministic listener drain, so a measurement reads its
  *     `SparkListener` only after every event posted so far was delivered.
  *
  * Declared under `org.apache.spark.sql` for package-private access — the
  * established pattern every open-source lakehouse connector (Delta,
  * Iceberg, Hudi) uses for exactly these calls. Nothing else lives here; all
  * graft logic stays in the `graft` packages.
  */
object Shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
