package graft

import org.apache.spark.sql.functions._

/** The injected EXCEPT→aggregate rewrite must change the plan shape
  * (no anti-join, one aggregation over a union) without changing any
  * result, and must leave EXCEPT ALL untouched. */
class ExtensionsSpec extends SparkSpec {

  private def o = Tables.orders(spark, sf1)

  /** `body` planned without the partial-distinct push, named the way
    * Spark's optimizer names the rule. */
  private def withoutPushBelowJoin[T](body: => T): T = {
    val rule = "graft.plans.PushPartialDistinctBelowJoin"
    assert(rule == graft.plans.PushPartialDistinctBelowJoin.ruleName)
    val key = "spark.sql.optimizer.excludedRules"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, rule)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def branch(st: String) =
    o.filter(col("o_orderstatus") === st).select(col("o_custkey"))

  test("EXCEPT plans as union+aggregate, not anti-join") {
    val df = branch("O").except(branch("F"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftAnti"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("rewritten EXCEPT matches the disabled-rule result") {
    val on = branch("O").except(branch("F")).collect()
      .map(_.getLong(0)).sorted.toSeq
    spark.conf.set("spark.sql.graft.rewriteExcept", "false")
    val off = try branch("O").except(branch("F")).collect()
      .map(_.getLong(0)).sorted.toSeq
    finally spark.conf.set("spark.sql.graft.rewriteExcept", "true")
    assert(on == off && on.nonEmpty)
  }

  test("EXCEPT with duplicate and NULL keys keeps set semantics") {
    import spark.implicits._
    val l = Seq[Option[Int]](Some(1), Some(1), Some(2), None, None, Some(3)).toDF("k")
    val r = Seq[Option[Int]](Some(2), None).toDF("k")
    val got = l.except(r).collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSet == Set(Some(1), Some(3)))
  }

  test("EXCEPT ALL is not rewritten and keeps bag semantics") {
    import spark.implicits._
    val l = Seq(1, 1, 2).toDF("k")
    val r = Seq(1).toDF("k")
    assert(l.exceptAll(r).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("3-branch EXCEPT chain collapses to ONE union+aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    val df = branch("O").except(branch("F")).except(branch("P"))
    val plan = df.queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    val unions = plan.collect { case u: Union => u }
    assert(aggs.size == 1, plan.toString)
    assert(unions.size == 1 && unions.head.children.size == 3, plan.toString)
    // and the collapsed form still computes EXCEPT-chain semantics
    val on = df.collect().map(_.getLong(0)).sorted.toSeq
    spark.conf.set("spark.sql.graft.rewriteExcept", "false")
    val off = try branch("O").except(branch("F")).except(branch("P"))
      .collect().map(_.getLong(0)).sorted.toSeq
    finally spark.conf.set("spark.sql.graft.rewriteExcept", "true")
    assert(on == off)
  }

  test("rewrite preserves the original non-nullable output schema") {
    import spark.implicits._
    val l = Seq(1, 2, 3).toDF("k")
    val r = Seq(2).toDF("k")
    val df = l.except(r)
    assert(!df.schema("k").nullable, df.schema.treeString)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  private def distinctOverJoin = {
    val ord = Tables.orders(spark, sf1)
    val cust = Tables.customer(spark, sf1)
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .select(col("o_orderdate"), col("c_mktsegment"))
      .distinct()
  }

  test("pure DISTINCT over inner join gets partial distinct below the join") {
    import graft.plans.PartialDistinct
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = distinctOverJoin.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1, plan.toString)
    val pds = plan.collect { case p: PartialDistinct => p }
    assert(pds.size == 2, plan.toString)
    // each side deduped on exactly its referenced columns (group ∪ join keys)
    val keySets = pds.map(_.keys.map(_.name).toSet).toSet
    assert(keySets == Set(Set("o_custkey", "o_orderdate"), Set("c_custkey", "c_mktsegment")),
      plan.toString)
    // physical: partial-mode hash aggregates with NO exchange underneath
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = distinctOverJoin.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val partialOnly = exec.collect {
      case h: HashAggregateExec
        if h.aggregateExpressions.isEmpty && h.requiredChildDistributionExpressions.isEmpty => h
    }
    assert(partialOnly.size >= 2, exec.toString)
  }

  test("partial distinct below join does not change the result") {
    val on = distinctOverJoin.collect().map(_.toString).sorted.toSeq
    val off = withoutPushBelowJoin {
      val plan = distinctOverJoin.queryExecution.optimizedPlan
      assert(plan.collect { case p: graft.plans.PartialDistinct => p }.isEmpty, plan.toString)
      distinctOverJoin.collect().map(_.toString).sorted.toSeq
    }
    assert(on == off && on.nonEmpty)
  }

  test("duplicate-SENSITIVE aggregates (sum/count/avg) are NOT pushed") {
    val ord = Tables.orders(spark, sf1)
    val cust = Tables.customer(spark, sf1)
    val sensitive = Seq(
      sum(col("o_totalprice")).as("s"),
      count(lit(1)).as("s"),
      avg(col("o_totalprice")).as("s"),
      // one duplicate-insensitive call does NOT rescue a sensitive one
      sum(col("o_totalprice")).as("s")) // paired with max below
    for ((aggCol, i) <- sensitive.zipWithIndex) {
      val base = ord.join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
      val df = if (i == 3) base.agg(aggCol, max(col("o_totalprice")).as("m"))
        else base.agg(aggCol)
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case p: graft.plans.PartialDistinct => p }.isEmpty, plan.toString)
    }
  }

  private def minMaxOverJoin = {
    val ord = Tables.orders(spark, sf1)
    val cust = Tables.customer(spark, sf1)
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(min(col("o_orderdate")).as("first_order"),
        max(col("o_totalprice")).as("max_price"))
  }

  test("min/max over inner join gets partial distinct below the join, keys include agg args") {
    import graft.plans.PartialDistinct
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = minMaxOverJoin.queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.size == 1, plan.toString)
    val pds = plan.collect { case p: PartialDistinct => p }
    assert(pds.size == 2, plan.toString)
    // dedup keys = that side's (group ∪ join ∪ aggregate-argument) columns
    val keySets = pds.map(_.keys.map(_.name).toSet).toSet
    assert(keySets == Set(
      Set("o_custkey", "o_orderdate", "o_totalprice"),
      Set("c_custkey", "c_mktsegment")), plan.toString)
  }

  test("min/max push below join does not change the result") {
    val on = minMaxOverJoin.collect().map(_.toString).sorted.toSeq
    val off = withoutPushBelowJoin {
      val plan = minMaxOverJoin.queryExecution.optimizedPlan
      assert(plan.collect { case p: graft.plans.PartialDistinct => p }.isEmpty, plan.toString)
      minMaxOverJoin.collect().map(_.toString).sorted.toSeq
    }
    assert(on == off && on.nonEmpty)
  }

  test("DISTINCT aggregates over a join are pushed and unchanged") {
    def df = {
      val ord = Tables.orders(spark, sf1)
      val cust = Tables.customer(spark, sf1)
      ord.join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("o_orderpriority")).as("pris"))
    }
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case p: graft.plans.PartialDistinct => p }.size == 2, plan.toString)
    val on = df.collect().map(_.toString).sorted.toSeq
    val off = withoutPushBelowJoin(df.collect().map(_.toString).sorted.toSeq)
    assert(on == off && on.nonEmpty)
  }

  test("single-table min/max (q16 shape) stays PartialDistinct-free") {
    for (name <- Seq("q16_min_max_avg", "q24_percentiles")) {
      val plan = SparkEntry.queries(name)(spark, sf1)
        .queryExecution.optimizedPlan
      assert(plan.collect { case p: graft.plans.PartialDistinct => p }.isEmpty,
        s"$name: $plan")
    }
  }

  test("chained EXCEPT (q05 shape) still matches its oracle result") {
    val viaExcept = SparkEntry.queries("q05_except_chain_count")(spark, sf2)
      .head().getLong(0)
    val viaRewrite = SparkEntry.queries("q22_except_count_rewrite")(spark, sf2)
      .head().getLong(0)
    assert(viaExcept == viaRewrite)
  }
}
