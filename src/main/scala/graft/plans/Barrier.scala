package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A logical-plan fence that no optimizer rule knows: no filter is pushed and
  * no projection collapsed across it, while column pruning reaches below it.
  * `PlanAsChild` plans it as its child: no physical operator, job or block.
  * A session plans it once `install` has run on it. */
final case class Barrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): Barrier = copy(child = c)
}

object Barrier {
  object PlanAsChild extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Barrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** Adds `PlanAsChild` to `spark`'s planner unless it is there already. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(PlanAsChild)) ex.extraStrategies :+= PlanAsChild
  }
}
