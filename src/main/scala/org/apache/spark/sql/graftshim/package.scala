package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** The `private[sql]` bridges graft needs: wrapping a custom
  * LogicalPlan ([[graft.plans.AsOfJoin]]) into a DataFrame, and a
  * custom Catalyst expression into a Column (and back). Spark 4
  * exposes no public constructor for either — the standard practice
  * for extension libraries (Delta, Sedona, Iceberg runtimes all ship
  * the same shim) is a package-adjacent accessor. Nothing else in graft
  * lives outside its own namespace, and no Spark internals are
  * modified — this only forwards to `Dataset.ofRows`,
  * `classic.ExpressionUtils` and `experimental.extraStrategies`
  * (itself a public API).
  */
package object graftshim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression — how graft's own expressions
    * reach the DataFrame API without the session's function registry. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The expression of a Column, as a lazy node that resolves when the
    * Column it is built into is used in a Dataset. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Idempotently append a planner strategy at runtime (the
    * non-extensions path for DataFrame-API users). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
