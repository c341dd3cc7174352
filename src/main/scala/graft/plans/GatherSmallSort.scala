package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: run the global sort of a small result in one task
  * instead of range-partitioning it.
  *
  * A global `ORDER BY` requires an ordered distribution, so
  * EnsureRequirements plans a range exchange below the sort. For a
  * grouped aggregate of a few rows that costs two one-task jobs after
  * the aggregate's map stage: the `RangePartitioner` sampling job and
  * the range exchange's map stage, both reading the same few hundred
  * bytes. The reference runs its output in a `[SINGLE]` fragment
  * (SURVEY.md:266-267); Shark's partial DAG execution picks the reduce
  * side from map-output statistics at the stage boundary, and this rule
  * makes that choice once the sort's input stages have finished.
  *
  * It rewrites `Sort(order, global, child)` to
  * `Sort(order, global, Repartition(1, shuffle = false, child))`. The
  * planner turns the repartition into `CoalesceExec(1)`, whose
  * `SinglePartition` satisfies the ordered distribution, so no range
  * exchange is added and nothing samples: the final aggregate and the
  * sort run in the result task. It fires only when all of these hold:
  *   1. every leaf of the sort's input is a materialized shuffle
  *      `LogicalQueryStage`;
  *   2. every such stage has a shuffle origin AQE may coalesce
  *      (ENSURE_REQUIREMENTS, REPARTITION_BY_COL or REBALANCE_*), never
  *      REPARTITION_BY_NUM, whose partition count the user fixed;
  *   3. the operators between the stages and the sort are only
  *      Project, Filter, Aggregate and Window, so nothing (Generate,
  *      Expand, Join) multiplies the rows after the stage boundary;
  *   4. the stages' summed map-output bytes are at most the
  *      one-partition target `CoalesceShufflePartitions` computes from
  *      the same confs: `coalescePartitions.minPartitionSize` when the
  *      minimum partition count is above one (`parallelismFirst`, the
  *      default), else the larger of it and the advisory size (and never
  *      above the advisory size for a rebalance, whose skew split would
  *      cut a larger partition).
  *
  * Invariant: under these conditions AQE already reads the stages, and
  * the sort after them, as one partition, so the rule never runs a
  * stage in fewer tasks than AQE gives without it; it removes only the
  * sampling job and the range-exchange stage. A sort under a limit, or
  * under a projection under one, is left alone (it plans as
  * TakeOrderedAndProject). The rule is idempotent (the gathered sort's
  * child is a Repartition) and is switched off by naming
  * `graft.plans.GatherSmallSort` in
  * `spark.sql.adaptive.optimizer.excludedRules`. */
case class GatherSmallSort(session: SparkSession) extends Rule[LogicalPlan] {

  private val rebalance: Set[ShuffleOrigin] =
    Set(REBALANCE_PARTITIONS_BY_NONE, REBALANCE_PARTITIONS_BY_COL)
  private val coalescable = rebalance ++ Set(ENSURE_REQUIREMENTS, REPARTITION_BY_COL)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    val limited = plan.collect {
      case l: LocalLimit => l.child
      case l: GlobalLimit => l.child
      case o: Offset => o.child
      case t: Tail => t.child
    }.map { case Project(_, s: Sort) => s; case p => p }
    plan.transformDown {
      case s @ Sort(_, true, child, _) if !limited.exists(_ eq s) && gatherable(child) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  /** An operator that never emits more rows than it reads. */
  private def nonExpanding(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Aggregate | _: Window => true
    case _ => false
  }

  private def gatherable(child: LogicalPlan): Boolean = {
    val readsOnly = child.find {
      case q: LogicalQueryStage => !(q.isDirectStage || nonExpanding(q.logicalPlan))
      case p => !nonExpanding(p)
    }.isEmpty
    val stages = child.collectLeaves().flatMap {
      case q: LogicalQueryStage => q.physicalPlan.collect { case s: QueryStageExec => s }
      case _ => Nil
    }
    val shuffles = stages.collect {
      case s: ShuffleQueryStageExec
          if s.isMaterialized && s.mapStats.isDefined &&
            coalescable(s.shuffle.shuffleOrigin) => s
    }
    readsOnly && shuffles.nonEmpty && shuffles.size == stages.size &&
      shuffles.map(_.mapStats.get.bytesByPartitionId.sum).sum <= oneTaskBytes(shuffles)
  }

  /** The largest input `CoalesceShufflePartitions` still reads as one
    * partition: its target is `max(min(ceil(total / minPartitions),
    * advisory), minPartitionSize)`. */
  private def oneTaskBytes(stages: Seq[ShuffleQueryStageExec]): Long = {
    val confAdvisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val advisory = stages match {
      case Seq(s) => s.advisoryPartitionSize.getOrElse(confAdvisory)
      case _ => confAdvisory
    }
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
    val target = if (minPartitions <= 1) advisory.max(minSize) else minSize
    if (stages.exists(s => rebalance(s.shuffle.shuffleOrigin))) target.min(advisory) else target
  }
}
