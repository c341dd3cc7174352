package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one walk over an executed physical plan: its operators in
  * preorder, descending through adaptive execution — an
  * `AdaptiveSparkPlanExec` stands for the plan it currently executes,
  * and a query stage is followed by the plan it ran. The query profile
  * (q78) lists these nodes; the statement face sums their metrics into
  * each page's live `stats`. */
object ExecutedPlan {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
