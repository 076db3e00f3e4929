package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans [[TopKPerGroup]] as partial-heap → (planner-inserted hash
  * exchange) → final-heap, the partial/final shape HashAggregate uses.
  * EnsureRequirements sees the final node's ClusteredDistribution
  * requirement and inserts the shuffle between the two stages.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child, rn) =>
      TopKPerGroupFinalExec(g, o, k, rn,
        TopKPerGroupPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}
