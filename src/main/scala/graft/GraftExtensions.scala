package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.VectorFunctions

/** SparkSessionExtensions entry point for SQL users: makes graft's
  * custom Catalyst expressions callable by name in any session built
  * with it, plus the optimizer rule and planner strategy below:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * The functions are [[graft.functions.VectorFunctions.table]], the
  * same table its `register` writes into one session. The DataFrame
  * operators need neither: they build the expressions straight into
  * Columns.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    // transparently upgrade HOF dot products to the codegen'd expression
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    // whole-operator as-of join: AsOfJoin logical node -> AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
