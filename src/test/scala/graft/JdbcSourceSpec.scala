package graft

import java.sql.DriverManager

/** JDBC source surface against embedded Derby — the closest offline
  * analogue of the reference's PostgreSQL connector path, exercising
  * the DSv2 JDBC behaviors the reference's plans rely on: filter
  * pushdown (q001 explain.txt:9 parameterized WHERE) and aggregate
  * pushdown (the whole sum evaluated in the source, SURVEY.md §4.1). */
class JdbcSourceSpec extends SparkSpec {

  private lazy val url: String = {
    val dir = tempDir("graft-derby").toPath
    val u = s"jdbc:derby:$dir/db;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.execute("CREATE TABLE ord (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    val ps = conn.prepareStatement("INSERT INTO ord VALUES (?, ?, ?)")
    Tables.orders(spark, sf1).select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(500).collect().foreach { r =>
        ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1)); ps.setDouble(3, r.getDouble(2))
        ps.addBatch()
      }
    ps.executeBatch()
    st.execute("CREATE TABLE cust (c_custkey BIGINT, c_name VARCHAR(64))")
    val pc = conn.prepareStatement("INSERT INTO cust VALUES (?, ?)")
    Tables.customer(spark, sf1).select("c_custkey", "c_name")
      .limit(200).collect().foreach { r =>
        pc.setLong(1, r.getLong(0)); pc.setString(2, r.getString(1))
        pc.addBatch()
      }
    pc.executeBatch()
    // negative surrogate keys for the slice-completeness gate below
    st.execute("CREATE TABLE negk (k BIGINT)")
    val pn = conn.prepareStatement("INSERT INTO negk VALUES (?)")
    (-5L to 5L).foreach { k => pn.setLong(1, k); pn.addBatch() }
    pn.executeBatch()
    conn.close()
    u
  }

  private def jdbcOrders =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "ord")
      .option("pushDownAggregate", "true")
      .option("pushDownLimit", "true")
      .load()

  test("JDBC scan reads rows") {
    assert(jdbcOrders.count() == 500)
  }

  test("filters are pushed into the JDBC source") {
    import org.apache.spark.sql.functions._
    val q = jdbcOrders.filter(col("o_orderkey") < 100)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("O_ORDERKEY"), plan)
    assert(q.count() > 0)
  }

  test("aggregates are pushed into the JDBC source (q001 shape)") {
    import org.apache.spark.sql.functions._
    val q = jdbcOrders.agg(sum(col("o_totalprice")).as("sales"))
    val plan = q.queryExecution.optimizedPlan.toString
    // with pushDownAggregate the scan relation exposes the SUM
    assert(plan.contains("SUM") || plan.contains("sum"), plan)
    assert(q.head().getDouble(0) > 0)
  }

  /** Runtime dynamic filtering INSIDE the relational scan — the last
    * connector seam (r15 verdict #1; reference applies
    * `dynamicFilters = {ss_customer_sk = #df_2066}` inside the pushed
    * psql scan, results/q005/workers-1/explain.txt:125-129). The
    * GraftJdbcCatalog's DSv2 scan folds the evaluated build-side
    * IN-set into the generated WHERE, so the store prunes the fact
    * read to the dim's keys. */
  test("runtime dynamic filter folds build-side keys into the generated WHERE") {
    import org.apache.spark.sql.functions._
    import graft.sources.GraftJdbcSource
    val conf = spark.conf
    // dedicated catalog name: CatalogManager caches instances by NAME,
    // and q86 registers `derbyrt` over its own federation db — sharing
    // the name would pin whichever URL instantiated first (the q79
    // derbyfed lesson; this bit an in-suite run as APP.ORD-not-found)
    conf.set("spark.sql.catalog.derbyspec", "graft.sources.GraftJdbcCatalog")
    conf.set("spark.sql.catalog.derbyspec.url", url)
    conf.set("spark.sql.catalog.derbyspec.partitionColumn", "O_CUSTKEY")
    conf.set("spark.sql.catalog.derbyspec.numPartitions", "2")
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val root = tempDir("graft-jdbc-rtf").toPath
    try {
      val fact = spark.table("derbyspec.APP.ORD")
      // hash-mod slicing: two disjoint partitions covering the table
      assert(fact.rdd.getNumPartitions == 2)
      assert(fact.count() == 500)
      // a compile-time predicate rides the dialect into the WHERE
      val filtered = fact.filter(col("o_orderkey") < 100)
      filtered.collect()
      val pushedSql = GraftJdbcSource.lastQuery("derbyspec.APP.ORD").get
      assert(pushedSql.contains("\"O_ORDERKEY\" < 100"), pushedSql)
      // build a parquet dim with a SELECTIVE predicate (PartitionPruning
      // only assigns a runtime filter when the build side filters)
      val keys = fact.select("o_custkey").distinct().limit(3)
        .collect().map(_.getLong(0)).toSeq
      fact.select(col("o_custkey").as("dkey")).distinct()
        .withColumn("pick", when(col("dkey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val rowsBefore = GraftJdbcSource.rowCount("derbyspec.APP.ORD")
      val q = fact.join(dim, col("o_custkey") === col("dkey"))
        .agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("n"))
      val got = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no runtime filter planned into the jdbc scan:\n$plan")
      // the evaluated IN-set rendered into the executed SQL
      val sql = GraftJdbcSource.lastQuery("derbyspec.APP.ORD").get
      assert(sql.contains("\"O_CUSTKEY\" IN ("), sql)
      keys.foreach(k => assert(sql.contains(k.toString), s"key $k absent: $sql"))
      // the STORE did the pruning: far fewer rows crossed the connection
      val crossed = GraftJdbcSource.rowCount("derbyspec.APP.ORD") - rowsBefore
      assert(crossed < 500, s"runtime filter did not reduce fetched rows: $crossed")
      // row-identical to the Spark-side join
      val expect = jdbcOrders.filter(col("o_custkey").isin(keys: _*))
        .agg(sum(col("o_totalprice")), count(lit(1))).head()
      assert(got.length == 1 && got(0).getLong(1) == expect.getLong(1) &&
        math.abs(got(0).getDouble(0) - expect.getDouble(0)) < 1e-6,
        s"got ${got.mkString}, expected $expect")

      // OVERSIZED IN-set guard: with the cap below the key count the
      // filter is dropped (full fetch), the join stays correct
      conf.set("spark.sql.graft.wire.runtimeFilterMaxKeys", "2")
      val before2 = GraftJdbcSource.rowCount("derbyspec.APP.ORD")
      val q2 = fact.join(dim, col("o_custkey") === col("dkey"))
        .agg(count(lit(1)).as("n"))
      assert(q2.head().getLong(0) == expect.getLong(1))
      val sql2 = GraftJdbcSource.lastQuery("derbyspec.APP.ORD").get
      assert(!sql2.contains(" IN ("), s"oversized IN-set was sent: $sql2")
      assert(GraftJdbcSource.rowCount("derbyspec.APP.ORD") - before2 >= 500)
    } finally {
      conf.unset("spark.sql.graft.wire.runtimeFilterMaxKeys")
      conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      Seq("spark.sql.catalog.derbyspec", "spark.sql.catalog.derbyspec.url",
        "spark.sql.catalog.derbyspec.partitionColumn",
        "spark.sql.catalog.derbyspec.numPartitions").foreach(conf.unset)
    }
  }

  test("hash-mod partition slices keep negative keys") {
    import graft.sources.GraftJdbcSource
    val conf = spark.conf
    conf.set("spark.sql.catalog.derbyneg", "graft.sources.GraftJdbcCatalog")
    conf.set("spark.sql.catalog.derbyneg.url", url)
    conf.set("spark.sql.catalog.derbyneg.partitionColumn", "K")
    conf.set("spark.sql.catalog.derbyneg.numPartitions", "2")
    try {
      val t = spark.table("derbyneg.APP.NEGK")
      assert(t.rdd.getNumPartitions == 2)
      // SQL MOD keeps the dividend's sign: a bare `MOD(k, 2) = i`
      // slice would drop every negative key from BOTH partitions
      assert(t.count() == 11, "slices lost rows (negative-key residues)")
      val sql = GraftJdbcSource.lastQuery("derbyneg.APP.NEGK").get
      assert(sql.contains("MOD(MOD("), sql)
    } finally
      Seq("spark.sql.catalog.derbyneg", "spark.sql.catalog.derbyneg.url",
        "spark.sql.catalog.derbyneg.partitionColumn",
        "spark.sql.catalog.derbyneg.numPartitions").foreach(conf.unset)
  }

  test("a two-table join is pushed into the JDBC source as one scan (q004 shape)") {
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.jdbc.GraftDerbyJoinDialect.register()
    val conf = spark.conf
    conf.set("spark.sql.catalog.derby",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    conf.set("spark.sql.catalog.derby.url", url)
    conf.set("spark.sql.catalog.derby.pushDownJoin", "true")
    conf.set("spark.sql.catalog.derby.pushDownAggregate", "true")
    try {
      // Derby folds unquoted DDL identifiers to uppercase; the v2
      // catalog quotes whatever identifier it receives
      val o = spark.table("derby.APP.ORD")
      val c = spark.table("derby.APP.CUST")
      val q = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_totalprice"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      // the whole join runs in the source: exactly one JDBC scan, no
      // Spark-side join operator (reference q004 explain.txt:70)
      assert("Scan JDBC".r.findAllIn(plan).length == 1, plan)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
      // row-identical to the unfused plan
      val unfused = jdbcOrders.as("o")
        .join(spark.read.format("jdbc").option("url", url).option("dbtable", "cust").load(),
          col("o_custkey") === col("c_custkey"))
      assert(q.count() == unfused.count())
      assert(q.count() > 0)
    } finally {
      // restore the stock dialect too — the registry is JVM-global and
      // other suites' Derby plans must not depend on execution order
      org.apache.spark.sql.jdbc.GraftDerbyJoinDialect.unregister()
      Seq("spark.sql.catalog.derby", "spark.sql.catalog.derby.url",
        "spark.sql.catalog.derby.pushDownJoin",
        "spark.sql.catalog.derby.pushDownAggregate").foreach(conf.unset)
    }
  }
}
