package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational}

/** `GatherSmallSort`: a global sort over a small, materialized,
  * coalescable shuffle stage runs in the result task (no RangePartitioner
  * sampling job, no range-exchange stage); every other sort keeps its
  * plan, jobs and tasks. Each case is compared with a run that names the
  * rule in `spark.sql.adaptive.optimizer.excludedRules`, which is the
  * plan without it. */
class GatherSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withoutRule[T](body: => T): T = withConfs(
    "spark.sql.adaptive.optimizer.excludedRules" -> "graft.plans.GatherSmallSort")(body)

  /** One collect of `df`: its rows, the jobs and tasks it launched, and
    * the final adaptive plan. */
  private case class Run(rows: Seq[String], jobs: Int, tasks: Int, plan: SparkPlan) {
    def rangeExchanges: Int = collect(plan) {
      case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }.size
  }

  private def run(df: => DataFrame): Run = {
    val d = df
    var rows = Seq.empty[String]
    val (jobs, tasks) = jobsAndTasksLaunchedBy { rows = d.collect().map(_.toString).toSeq }
    Run(rows, jobs, tasks, d.queryExecution.executedPlan)
  }

  /** The same rows, jobs and tasks with and without the rule. */
  private def unchanged(df: => DataFrame): Run = {
    val (on, off) = (run(df), withoutRule(run(df)))
    assert(on.rows == off.rows && on.rows.nonEmpty)
    assert((on.jobs, on.tasks) == (off.jobs, off.tasks),
      s"jobs/tasks ${(on.jobs, on.tasks)} with the rule, ${(off.jobs, off.tasks)} without")
    on
  }

  private def q02 = spark.sql(Relational.scanGroupAgg.oracle.get)

  test("q02's sort over a small aggregate runs in the result task") {
    Tables.registerViews(spark, sf1)
    val (on, off) = (run(q02), withoutRule(run(q02)))
    assert(on.jobs == 2 && off.jobs == 4, s"jobs ${on.jobs} with the rule, ${off.jobs} without")
    assert(on.rangeExchanges == 0 && off.rangeExchanges == 1, on.plan.toString)
    assert(on.rows == off.rows && on.rows.size == 3)
  }

  test("a stage above the one-partition target keeps the range exchange") {
    Tables.registerViews(spark, sf1)
    val r = withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b")(run(q02))
    assert(r.rangeExchanges == 1 && r.jobs == 4, s"${r.jobs} jobs\n${r.plan}")
  }

  test("ORDER BY … LIMIT keeps its jobs and tasks, and TakeOrderedAndProject while the limit cuts") {
    Tables.registerViews(spark, sf1)
    val q04 = Relational.leftJoinCaseAgg.oracle.get
    // sf0.001 has 10 suppliers, so AQE's EliminateLimits drops LIMIT 100
    // once the aggregate's stage has run, leaving a small plain sort
    unchanged(spark.sql(q04))
    // the limit below the group count, over the sort and over a projection of it
    val projected = """SELECT o_orderstatus FROM orders GROUP BY o_orderstatus
                      |ORDER BY COUNT(*) DESC, o_orderstatus LIMIT 2""".stripMargin
    Seq(q04.replace("LIMIT 100", "LIMIT 5") -> 5, projected -> 2).foreach { case (sql, n) =>
      val cut = unchanged(spark.sql(sql))
      assert(cut.rows.size == n)
      assert(collect(cut.plan) { case t: TakeOrderedAndProjectExec => t }.size == 1 &&
        collect(cut.plan) { case c: CoalesceExec => c }.isEmpty, cut.plan.toString)
    }
  }

  test("d13 (a fixed-count repartition, then an explode) keeps its jobs and tasks") {
    assert(unchanged(Dedup.winnowing.build(spark, sf1)).rangeExchanges == 1)
  }

  test("a sort above an explode over a small coalescable stage is not gathered") {
    val r = unchanged(spark.range(0, 100, 1, 4)
      .groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("n"))
      .select(col("k"), explode(array(col("n"), col("n") + 1)).as("e"))
      .orderBy(col("k"), col("e")))
    assert(r.rangeExchanges == 1)
  }

  test("a column repartition is gathered; a fixed partition count is not") {
    def ids = spark.range(0, 100, 1, 4).toDF()
    val byCol = run(ids.repartition(col("id")).orderBy(col("id").desc))
    assert(byCol.rangeExchanges == 0 && byCol.rows.size == 100)
    assert(unchanged(ids.repartition(4, col("id")).orderBy(col("id").desc))
      .rangeExchanges == 1)
  }
}
