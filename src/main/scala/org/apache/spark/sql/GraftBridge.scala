package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the private[sql] Column↔Expression converters — the
  * supported way to expose a custom Catalyst `Expression` as a `Column`
  * without routing through the (session-bound) function registry. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an arbitrary logical plan — lets the plan-audit
    * specs evaluate a SUBTREE of an analyzed plan (e.g. a window
    * operator's input projected to its partition keys) to measure its
    * actual cardinality, which no static name list can know. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over `plan` taken as analyzed: the analyzer returns a plan
    * marked analyzed as it is, so `plan` is neither resolved nor checked
    * again. For a plan put together from analyzed parts under a new root
    * (`graft.etl.CompiledPipeline`): a root copied by a transform would
    * share the mutable dataset-id set of the node it was copied from. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}
