package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator surface, mapped from the reference's five golden
  * queries (reference: queries/q001.sql..q005.sql) onto the driver
  * testdata's TPC-H-ish schema, plus the adjacent SQL surface the
  * reference leaves unexercised but a drop-in engine must provide
  * (SURVEY.md §2.3/§2.4/§2.6/§2.7 "not exercised" lists).
  *
  * Numeric-parity strategy (SURVEY.md §7.4): monetary doubles are cast to
  * exact DECIMAL before aggregation (deterministic under any partitioning /
  * re-ordering, unlike double sums), then the final result is cast back to
  * DOUBLE so Spark and DuckDB emit identical schemas and values.
  */
object Relational {

  /** Exact-money cast: deterministic aggregation at any parallelism. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** q001 shape (reference: queries/q001.sql — filtered scalar sum that
    * Trino pushes wholesale into PostgreSQL; here the BETWEEN filter is
    * pushed into the parquet scan and the sum runs partial→final). */
  val aggPushdownSum: QueryEntry = QueryEntry(
    "q01_agg_pushdown_sum",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(
        lit("1995-01-01 00:00:00").cast("timestamp"),
        lit("1996-12-31 23:59:59").cast("timestamp")))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sales"))
  }

  /** q002 shape (reference: queries/q002.sql — second-catalog fact scan +
    * grouped two-phase sum; partial agg at the scan, final after shuffle). */
  val scanGroupAgg: QueryEntry = QueryEntry(
    "q02_scan_group_agg",
    """SELECT o_orderstatus,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |       COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sales"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** q003 shape (reference: queries/q003.sql — fact ⋈ dim broadcast join,
    * grouped count, TopN; Trino chose REPLICATED distribution for the dim
    * build side — results/q003/workers-1/explain.txt:49-52 — mirrored here
    * with explicit broadcast of both dims). */
  val joinAggTopN: QueryEntry = QueryEntry(
    "q03_join_agg_topn",
    """SELECT n_name, COUNT(*) AS orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |            JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY orders DESC, n_name LIMIT 20""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("orders"))
      .orderBy(col("orders").desc, col("n_name").asc)
      .limit(20)
  }

  /** q004 shape (reference: queries/q004.sql ≈ TPC-DS Q93 — LEFT JOIN with
    * non-matches, CASE over the nullable side, grouped sum, multi-key TopN
    * with Trino's ASC NULLS LAST default made explicit; SURVEY.md §7.4.2). */
  val leftJoinCaseAgg: QueryEntry = QueryEntry(
    "q04_left_join_case_agg",
    """SELECT l_suppkey,
      |       CAST(SUM(CASE WHEN f.o_orderkey IS NOT NULL
      |                     THEN (CAST(l_quantity AS DECIMAL(12,2)) - 1) * CAST(l_extendedprice AS DECIMAL(12,2))
      |                     ELSE CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) END)
      |            AS DOUBLE) AS sumsales
      |FROM lineitem LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') f
      |  ON l_orderkey = f.o_orderkey
      |GROUP BY l_suppkey
      |ORDER BY sumsales ASC NULLS LAST, l_suppkey ASC NULLS LAST
      |LIMIT 100""".stripMargin
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val f = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    li.join(f, li("l_orderkey") === f("o_orderkey"), "left")
      .withColumn("act",
        when(col("o_orderkey").isNotNull,
          (dec(col("l_quantity")) - lit(1)) * dec(col("l_extendedprice")))
          .otherwise(dec(col("l_quantity")) * dec(col("l_extendedprice"))))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("act")).cast("double").as("sumsales"))
      .orderBy(asc_nulls_last("sumsales"), asc_nulls_last("l_suppkey"))
      .limit(100)
  }

  /** q005 shape (reference: queries/q005.sql ≈ TPC-DS Q87 — count of a
    * left-to-right chain of EXCEPT DISTINCT over three branches; Catalyst
    * plans anti-join + distinct, SURVEY.md §2.7). */
  val exceptChainCount: QueryEntry = QueryEntry(
    "q05_except_chain_count",
    """SELECT COUNT(*) AS cnt FROM (
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |  EXCEPT
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |  EXCEPT
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |)""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    def branch(st: String) =
      o.filter(col("o_orderstatus") === st).select(col("o_custkey")).distinct()
    branch("O").except(branch("F")).except(branch("P"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Multi-column DISTINCT → Aggregate-on-keys
    * (reference: queries/q005.sql:2 SELECT DISTINCT;
    * results/q005/workers-1/explain.txt:57). */
  val distinctKeys: QueryEntry = QueryEntry(
    "q06_distinct",
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** Left-semi join (EXISTS) — surface the reference leaves to the engine
    * (SURVEY.md §2.3 "not exercised; free in Spark"). */
  val semiJoin: QueryEntry = QueryEntry(
    "q07_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS). */
  val antiJoin: QueryEntry = QueryEntry(
    "q08_anti_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** INTERSECT DISTINCT (SURVEY.md §2.7 noted-absent set op). */
  val intersectCount: QueryEntry = QueryEntry(
    "q09_intersect_count",
    """SELECT COUNT(*) AS cnt FROM (
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |  INTERSECT
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |)""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    def branch(st: String) =
      o.filter(col("o_orderstatus") === st).select(col("o_custkey")).distinct()
    branch("O").intersect(branch("F")).agg(count(lit(1)).as("cnt"))
  }

  /** UNION ALL + re-aggregation. */
  val unionAllAgg: QueryEntry = QueryEntry(
    "q10_union_all_agg",
    """SELECT src, COUNT(*) AS n, CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT 'order' AS src, o_totalprice AS v FROM orders
      |  UNION ALL
      |  SELECT 'line' AS src, l_extendedprice AS v FROM lineitem
      |) GROUP BY src ORDER BY src""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d).select(lit("order").as("src"), col("o_totalprice").as("v"))
    val li = Tables.lineitem(s, d).select(lit("line").as("src"), col("l_extendedprice").as("v"))
    o.unionByName(li)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).cast("double").as("total"))
      .orderBy(col("src"))
  }

  /** Explicit NULLS LAST TopN (Trino's ASC default; SURVEY.md §7.4.2) over
    * an engine-generated nullable column. */
  val topNNullsLast: QueryEntry = QueryEntry(
    "q11_topn_nulls_last",
    """SELECT l_orderkey, l_linenumber,
      |       CASE WHEN l_discount > CAST(0.05 AS DOUBLE) THEN NULL ELSE l_discount END AS d
      |FROM lineitem
      |ORDER BY d ASC NULLS LAST, l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") > lit(0.05), lit(null)).otherwise(col("l_discount")).as("d"))
      .orderBy(asc_nulls_last("d"), col("l_orderkey"), col("l_linenumber"))
      .limit(50)
  }

  /** ROLLUP grouping sets (SURVEY.md §2.4 noted-absent). */
  val rollupAgg: QueryEntry = QueryEntry(
    "q12_rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("sales"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  /** COUNT(DISTINCT) — Catalyst Expand path (SURVEY.md §2.4 noted-absent). */
  val countDistinctAgg: QueryEntry = QueryEntry(
    "q13_count_distinct",
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS custs, COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("custs"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Scalar function surface: string + date functions in one projection
    * (reference exercises cast/upper-style scalars via the loader,
    * loader.py:213-218; date parts unexercised — SURVEY.md §2.8). */
  val scalarFunctions: QueryEntry = QueryEntry(
    "q14_scalar_functions",
    """SELECT o_orderkey,
      |       UPPER(o_orderpriority) AS pri,
      |       SUBSTRING(o_orderpriority, 1, 1) AS p1,
      |       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
      |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
      |       CAST(FLOOR(o_totalprice) AS BIGINT) AS fp,
      |       CONCAT(o_orderstatus, '-', UPPER(SUBSTRING(o_orderpriority, 1, 1))) AS tag
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri"),
        substring(col("o_orderpriority"), 1, 1).as("p1"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        floor(col("o_totalprice")).as("fp"),
        concat(col("o_orderstatus"), lit("-"),
          upper(substring(col("o_orderpriority"), 1, 1))).as("tag"))
      .orderBy(col("o_orderkey"))
      .limit(100)
  }

  /** Fact ⋈ fact shuffled join + grouped agg (q004's PARTITIONED
    * distribution — results/q004/workers-1/explain.txt:54). At scale both
    * sides hash-shuffle on the key; AQE can re-plan to broadcast if one
    * side turns out small. */
  val shuffledJoinAgg: QueryEntry = QueryEntry(
    "q15_shuffled_join_agg",
    """SELECT o_orderpriority,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2)))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** min/max/avg aggregate family (SURVEY.md §2.4 noted-absent; avg built
    * as exact decimal sum / count for cross-engine determinism). */
  val minMaxAvg: QueryEntry = QueryEntry(
    "q16_min_max_avg",
    """SELECT l_returnflag,
      |       MIN(l_quantity) AS minq, MAX(l_quantity) AS maxq,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avgq,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("minq"),
        max(col("l_quantity")).as("maxq"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avgq"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Window functions: per-group TopK via row_number (SURVEY.md §2.5 —
    * absent from the reference, required for a complete engine surface). */
  val windowTopK: QueryEntry = QueryEntry(
    "q17_window_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running / offset window aggregates: running sum + rank per group. */
  val windowRunning: QueryEntry = QueryEntry(
    "q18_window_running",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
      |            OVER (PARTITION BY l_suppkey
      |                  ORDER BY l_orderkey, l_linenumber, l_quantity, l_partkey, l_extendedprice
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
      |       RANK() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS r
      |FROM lineitem WHERE l_suppkey <= 20
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin
  ) { (s, d) =>
    // (l_orderkey, l_linenumber) is not unique per supplier in the testdata;
    // extra sort keys make the cumulative frame deterministic across engines.
    val wSum = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey"), col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 20)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec(col("l_quantity"))).over(wSum).cast("double").as("running_qty"),
        rank().over(wRank).as("r"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Federated three-catalog query through the DSv2 catalogs
    * (graft.sources.GraftParquetCatalog) with the reference's implicit
    * comma-join syntax (queries/q005.sql:3-5): the fact lives in
    * `mongodb`, dims in `psql` — one SQL statement spans both, exactly
    * like the reference's q003 federation. */
  val federatedJoin: QueryEntry = QueryEntry(
    "q19_federated_catalogs",
    """SELECT r_name, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
      |FROM orders, customer, nation, region
      |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    s.sql(
      """SELECT r_name, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
        |FROM mongodb.tpcds.orders, psql.tpcds.customer,
        |     psql.tpcds.nation, psql.tpcds.region
        |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  /** ONE embedded-Derby database per JVM holding one `NATION_<dirkey>`
    * table per sf dir, seeded once with that dir's `nation` rows — the
    * relational-store half of the q79 heterogeneous federation (25
    * rows: a dimension seed over JDBC batch insert, not a data path;
    * at 100 TB the relational side IS a live store and this seed step
    * does not exist). A single database (single catalog URL) matters:
    * Spark's CatalogManager caches the catalog instance on first use,
    * so a per-dir URL would silently keep serving the FIRST dir's data
    * to every later scale factor in the same session. */
  private lazy val derbyFedUrl: String = {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby-fed")
    s"jdbc:derby:$dbDir/db;create=true"
  }

  private val derbyNationTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def derbyNationTable(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    derbyNationTables.computeIfAbsent(d, _ => {
      val table = "NATION_" + d.replaceAll("[^a-zA-Z0-9]", "_").toUpperCase
      val conn = java.sql.DriverManager.getConnection(derbyFedUrl)
      try {
        val st = conn.createStatement()
        st.execute(s"CREATE TABLE $table (n_nationkey INT, " +
          "n_name VARCHAR(64), n_regionkey INT)")
        val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?)")
        Tables.nation(s, d).collect().foreach { r =>
          ps.setInt(1, r.getInt(0)); ps.setString(2, r.getString(1))
          ps.setInt(3, r.getInt(2)); ps.addBatch()
        }
        ps.executeBatch()
      } finally conn.close()
      table
    })

  /** One `ORDERS_<dirkey>` FACT table per sf dir in the shared Derby
    * database — the relational store's fact side for the q86 dynamic-
    * filter shape (the reference's store_sales-in-psql role,
    * loader.py:313). Seeded once per JVM per dir over batched JDBC
    * inserts (test scaffolding: at 100 TB the relational store already
    * holds the facts), WITH an index on the join key — Derby answers a
    * multi-key `IN` by index probes, the access path a dynamic filter
    * actually pays for (the q82 lesson: an unindexed store makes a
    * runtime IN-set O(rows × keys)). */
  private val derbyOrdersTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The per-sf-dir Derby fact-table NAME — the single source of truth
    * shared by the seeding helper and [[jdbcRuntimeFilterLogName]], so
    * the statement-spec's request-log key can never drift from the
    * table the seeder actually creates. */
  private def derbyOrdersTableName(d: String): String =
    "ORDERS_" + d.replaceAll("[^a-zA-Z0-9]", "_").toUpperCase

  private def derbyOrdersTable(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    derbyOrdersTables.computeIfAbsent(d, _ => {
      val table = derbyOrdersTableName(d)
      val conn = java.sql.DriverManager.getConnection(derbyFedUrl)
      try {
        val st = conn.createStatement()
        st.execute(s"CREATE TABLE $table (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_orderstatus VARCHAR(1), " +
          "o_totalprice DOUBLE)")
        val ps = conn.prepareStatement(
          s"INSERT INTO $table VALUES (?, ?, ?, ?)")
        var n = 0
        // toLocalIterator: the seed streams one partition at a time —
        // never a full collect of the fact table on the driver
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .toLocalIterator().forEachRemaining { r =>
            ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
            ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
            ps.addBatch()
            n += 1
            if (n % 2000 == 0) { ps.executeBatch(); () }
          }
        ps.executeBatch()
        st.execute(s"CREATE INDEX ${table}_CK ON $table (o_custkey)")
      } finally conn.close()
      table
    })

  /** Runtime dynamic filtering inside ALL THREE federation connectors
    * in one statement (q86) — the reference's q005: an EXCEPT-distinct
    * chain whose every branch joins the same selectively-filtered
    * customer dimension, and the dim's evaluated key set is applied
    * INSIDE each store's scan — `dynamicFilters = {… = #df_2066}` in
    * the pushed psql scan (results/q005/workers-1/explain.txt:125-129),
    * the mongo scan, and the ES scan (explain.txt:212-219). Here the
    * relational branch reads through [[graft.sources.GraftJdbcCatalog]]
    * (the DSv2 JDBC scan with the SupportsRuntimeV2Filtering seam —
    * stock JDBCTableCatalog plans a V1Scan the runtime-filter machinery
    * never reaches), the mongo branch folds the keys into its `$in`
    * find clause, and the ES branch into its `terms` bool.filter: each
    * store prunes its own fact read to the dim's keys, so at 100 TB
    * every branch is O(matching rows), not O(store). Oracle: the same
    * EXCEPT chain over the parquet tables. */
  lazy val jdbcRuntimeFilter: QueryEntry = QueryEntry(
    "q86_jdbc_runtime_filter",
    """SELECT c_custkey FROM (
      |  (SELECT DISTINCT c.c_custkey FROM orders o JOIN customer c
      |     ON o.o_custkey = c.c_custkey
      |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
      |     AND o.o_orderstatus = 'F')
      |  EXCEPT
      |  (SELECT DISTINCT c.c_custkey FROM orders o JOIN customer c
      |     ON o.o_custkey = c.c_custkey
      |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
      |     AND o.o_orderstatus = 'O')
      |  EXCEPT
      |  (SELECT DISTINCT c.c_custkey FROM documents d JOIN customer c
      |     ON d.doc_id = c.c_custkey
      |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
      |     AND d.lang = 'en')
      |) t ORDER BY c_custkey""".stripMargin
  ) { (s, d) => s.sql(jdbcRuntimeFilterStatement(s, d)) }

  /** q86's catalog setup + statement TEXT, factored so the statement-
    * protocol spec can drive the SAME three-connector statement through
    * the HTTP face (per-statement session clones inherit these confs)
    * and assert the runtime IN-set still reaches the store under paged
    * `toLocalIterator` execution. Returns the SQL; the fed fact table
    * name is per-sf-dir. */
  private[graft] def jdbcRuntimeFilterStatement(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    s.conf.set("spark.sql.graft.root", d)
    val table = derbyOrdersTable(s, d)
    s.conf.set("spark.sql.catalog.derbyrt", "graft.sources.GraftJdbcCatalog")
    s.conf.set("spark.sql.catalog.derbyrt.url", derbyFedUrl)
    // hash-mod read slices on the join key: fact parallelism without a
    // min/max pre-query (4 disjoint MOD(o_custkey, 4) = i scans)
    s.conf.set("spark.sql.catalog.derbyrt.partitionColumn", "O_CUSTKEY")
    s.conf.set("spark.sql.catalog.derbyrt.numPartitions", "4")
    s"""SELECT c_custkey FROM (
         |  (SELECT DISTINCT c.c_custkey FROM derbyrt.APP.$table o
         |     JOIN psql.tpcds.customer c ON o.o_custkey = c.c_custkey
         |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
         |     AND o.o_orderstatus = 'F')
         |  EXCEPT
         |  (SELECT DISTINCT c.c_custkey FROM mongodb.tpcds.orders o
         |     JOIN psql.tpcds.customer c ON o.o_custkey = c.c_custkey
         |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
         |     AND o.o_orderstatus = 'O')
         |  EXCEPT
         |  (SELECT DISTINCT c.c_custkey FROM elastic.default.documents d
         |     JOIN psql.tpcds.customer c ON d.doc_id = c.c_custkey
         |   WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
         |     AND d.lang = 'en')
         |) t ORDER BY c_custkey""".stripMargin
  }

  /** The request-log key of q86's JDBC fact scan (`<catalog>.<ident>`
    * as GraftJdbcCatalog logs it) — lets the statement-protocol spec
    * assert the rendered runtime `IN` without duplicating the per-dir
    * table naming. */
  private[graft] def jdbcRuntimeFilterLogName(d: String): String =
    "derbyrt.APP." + derbyOrdersTableName(d)

  /** Heterogeneous single-statement federation (q79) — the reference's
    * q003 cross-STORE-TYPE shape (results/q003/workers-1/
    * explain.txt:49-67 joins `mongodb.tpcds.catalog_sales` against
    * `psql.tpcds.customer_address`, the filter pushed into the scan):
    * ONE SQL statement spans a REAL JDBC catalog (embedded Derby
    * through Spark's stock JDBCTableCatalog — the PostgreSQL-connector
    * stand-in this sandbox allows) and a parquet DSv2 catalog. The
    * dim-side predicate is pushed INTO the JDBC source and the 25-row
    * dim broadcasts against the parquet fact scan (plan-asserted in
    * PlanAuditSpec) — the exact shape the reference's dynamic-filtered
    * federation realizes. Oracle: same join over the parquet tables. */
  lazy val heterogeneousFederation: QueryEntry = QueryEntry(
    "q79_heterogeneous_federation",
    """SELECT n_name, COUNT(*) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
      |FROM customer, nation
      |WHERE c_nationkey = n_nationkey AND n_regionkey = 1
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    val table = derbyNationTable(s, d)
    // dedicated catalog name: CatalogManager caches instances by name,
    // and the q004-shape JdbcSourceSpec registers its OWN `derby`
    // catalog — sharing the name would pin whichever URL loaded first
    s.conf.set("spark.sql.catalog.derbyfed",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    s.conf.set("spark.sql.catalog.derbyfed.url", derbyFedUrl)
    s.conf.set("spark.sql.catalog.derbyfed.pushDownAggregate", "true")
    // Derby folds unquoted DDL identifiers to uppercase → explicit
    // lowercase aliases keep the output schema oracle-identical.
    // BROADCAST(dim): a JDBC relation reports no size statistics
    // (defaultSizeInBytes = "assume huge"), so without the hint Spark
    // broadcasts the PARQUET side instead — fine at sf0.001, a
    // fact-table broadcast at 100 TB. The dim is 25 rows at any scale.
    s.sql(
      s"""SELECT /*+ BROADCAST(dim) */ n_name AS n_name, COUNT(*) AS n,
         |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
         |FROM psql.tpcds.customer, derbyfed.APP.$table dim
         |WHERE c_nationkey = n_nationkey AND n_regionkey = 1
         |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** THREE-store heterogeneous federation over THREE protocols (q81):
    * one SQL statement spans the elastic WIRE catalog (scroll-paged
    * HTTP through GraftElasticSource — the reference's third store,
    * `elasticsearch.scroll-size=1000` at values.yml.j2:53), the Derby
    * JDBC catalog (the psql role), and a parquet DSv2 catalog — no
    * store is a rename. The `lang` filter pushes into the HTTP
    * request's query DSL (spec-pinned in ElasticSourceSpec), the JDBC
    * dim broadcasts, and the corpus streams through bounded 1000-row
    * scroll pages. The mod-25 bridge stands in for the tenant key a
    * real corpus carries (the synthetic documents table has no FK).
    * Oracle: the same join over the parquet tables. */
  lazy val elasticFederation: QueryEntry = QueryEntry(
    "q81_elastic_scroll_federation",
    """SELECT n_name, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents d, nation nat, region r
      |WHERE MOD(d.doc_id, 25) = nat.n_nationkey
      |  AND nat.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA' AND d.lang = 'en'
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    val table = derbyNationTable(s, d)
    s.conf.set("spark.sql.catalog.derbyfed",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    s.conf.set("spark.sql.catalog.derbyfed.url", derbyFedUrl)
    s.conf.set("spark.sql.catalog.derbyfed.pushDownAggregate", "true")
    // BROADCAST both dims: the JDBC relation reports no size stats and
    // the HTTP corpus side must stay the streamed probe side
    s.sql(
      s"""SELECT /*+ BROADCAST(nat, r) */ n_name AS n_name,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS chars
         |FROM elastic.default.documents d, derbyfed.APP.$table nat,
         |     psql.tpcds.region r
         |WHERE MOD(d.doc_id, 25) = nat.n_nationkey
         |  AND nat.n_regionkey = r.r_regionkey
         |  AND r.r_name = 'ASIA' AND d.lang = 'en'
         |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** One writable WAREHOUSE catalog per JVM (`cbocat`, pinned to a
    * scratch root so it coexists with the per-entry source roots):
    * holds the ANALYZE'd dimension copies q82 joins against. Rebuilt
    * per (dir) on first use; a stale directory from a previous JVM is
    * replaced, never trusted. */
  private val cboDimTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val cboRoot = "/dev/shm/graftcbo"

  private def cboDimTable(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    // catalog registration is PER SESSION, outside the memo: the build
    // below is once-per-JVM, but a second session in the same JVM
    // (`Harness cluster`'s second topology, a Connect session) needs
    // the catalog conf or `cbocat` resolves as a spark_catalog namespace
    s.conf.set("spark.sql.catalog.cbocat",
      "graft.sources.GraftParquetCatalog")
    s.conf.set("spark.sql.catalog.cbocat.pinnedRoot", cboRoot)
    cboDimTables.computeIfAbsent(d, _ => {
      val t = "cbo_customer_" + d.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      new java.io.File(cboRoot).mkdirs()
      val dir = new java.io.File(cboRoot, s"$t.parquet")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      if (dir.exists()) rm(dir)
      Tables.customer(s, d).createOrReplaceTempView(s"cbo_src_$t")
      s.sql(s"""CREATE TABLE cbocat.tpcds.$t
               |TBLPROPERTIES('versioned'='true')
               |AS SELECT c_custkey, c_mktsegment, c_acctbal
               |FROM cbo_src_$t""".stripMargin)
      s.sql(s"ANALYZE TABLE cbocat.tpcds.$t COMPUTE STATISTICS FOR ALL COLUMNS")
      t
    })
  }

  /** Stats-driven (CBO) join distribution (q82) — Trino picks
    * REPLICATED vs PARTITIONED from per-node `Estimates:` (reference:
    * results/q003/workers-1/explain.txt:7); here the dimension is a
    * versioned catalog table carrying an `ANALYZE TABLE … COMPUTE
    * STATISTICS FOR ALL COLUMNS` record, its scan reports
    * selectivity-scaled statistics (GraftTableStats), and the planner
    * broadcasts it with NO hint — the stored stats, not file size or
    * a hint, are the operative estimate (CboStatsSpec pins the
    * broadcast↔shuffle flip from the same record at two SFs). */
  lazy val cboStatsJoin: QueryEntry = QueryEntry(
    "q82_cbo_stats_join",
    """SELECT c_mktsegment, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
      |FROM orders o, customer c
      |WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 1000
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    val t = cboDimTable(s, d)
    s.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
         |FROM mongodb.tpcds.orders o, cbocat.tpcds.$t c
         |WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 1000
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** FOUR-protocol single-statement federation (q83): every federation
    * role over its real wire — the mongodb OP_MSG catalog (orders; the
    * reference's second store, loader.py:322 puts the facts there), the
    * Derby JDBC catalog (psql role), the elastic scroll-HTTP catalog
    * (document corpus), and a parquet DSv2 catalog — joined in ONE SQL
    * statement. Each store sees its own pushdown: `o_orderstatus='F'`
    * rides the mongo find document (MongoSourceSpec pins the
    * rendering), `lang='en'` the ES query DSL, and both fact sides
    * pre-aggregate BEFORE the nation join, so only per-nation rows
    * cross stores (the 100 TB shape: aggregate in place, federate
    * summaries). Oracle: the same join over the parquet tables. */
  lazy val mongoWireFederation: QueryEntry = QueryEntry(
    "q83_mongo_wire_federation",
    """SELECT n_name, n_orders, sales, n_docs FROM nation nat
      |JOIN (SELECT c_nationkey, COUNT(*) AS n_orders,
      |             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
      |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |      WHERE o.o_orderstatus = 'F'
      |      GROUP BY c_nationkey) s ON s.c_nationkey = nat.n_nationkey
      |JOIN (SELECT MOD(doc_id, 25) AS nk, COUNT(*) AS n_docs
      |      FROM documents WHERE lang = 'en'
      |      GROUP BY MOD(doc_id, 25)) dd ON dd.nk = nat.n_nationkey
      |ORDER BY n_name""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    val table = derbyNationTable(s, d)
    s.conf.set("spark.sql.catalog.derbyfed",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    s.conf.set("spark.sql.catalog.derbyfed.url", derbyFedUrl)
    s.conf.set("spark.sql.catalog.derbyfed.pushDownAggregate", "true")
    // BROADCAST(nat): the 25-row JDBC dim reports no size statistics;
    // both aggregated store sides stay the streamed probe sides
    s.sql(
      s"""SELECT /*+ BROADCAST(nat) */
         |       n_name AS n_name, n_orders, sales, n_docs
         |FROM derbyfed.APP.$table nat
         |JOIN (SELECT c_nationkey, COUNT(*) AS n_orders,
         |             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
         |      FROM mongodb.tpcds.orders o
         |      JOIN psql.tpcds.customer c ON o.o_custkey = c.c_custkey
         |      WHERE o.o_orderstatus = 'F'
         |      GROUP BY c_nationkey) s ON s.c_nationkey = nat.n_nationkey
         |JOIN (SELECT MOD(doc_id, 25) AS nk, COUNT(*) AS n_docs
         |      FROM elastic.default.documents WHERE lang = 'en'
         |      GROUP BY MOD(doc_id, 25)) dd ON dd.nk = nat.n_nationkey
         |ORDER BY n_name""".stripMargin)
  }

  /** Runtime dynamic filtering INSIDE the elastic wire scan (q85) —
    * the reference's q005 shape: a selectively-filtered dimension
    * drives a dynamic filter applied inside the ES scan itself
    * (results/q005/workers-1/explain.txt:212-219). Here the broadcast
    * customer build side's evaluated key set folds into the scroll
    * request as a `terms` clause in `bool.filter`
    * (SupportsRuntimeV2Filtering on GraftElasticScan; ElasticSourceSpec
    * pins the rendered body and the wire-hit reduction), so pruned
    * docs never ride the scroll pages — at 100 TB the corpus-side
    * read is O(matching docs), not O(index). */
  lazy val elasticRuntimeFilter: QueryEntry = QueryEntry(
    "q85_elastic_runtime_filter",
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents d JOIN customer c ON d.doc_id = c.c_custkey
      |WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
      |GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    s.sql(
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM elastic.default.documents d JOIN psql.tpcds.customer c
        |  ON d.doc_id = c.c_custkey
        |WHERE c.c_acctbal > 5000 AND c.c_mktsegment = 'BUILDING'
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** Range predicate over the mongo wire's epoch-micros timestamps
    * (q84): BSON datetimes are millisecond-precision, so the events
    * collection stores `ts` as int64 epoch-micros declared
    * `timestamp(6)` in `_schema`; the pushed `ts >= …` renders as an
    * int64 `$gte` in the find document (MongoSourceSpec pins it) and
    * the grouped aggregate runs Spark-side over the cursor batches. */
  lazy val mongoEventsRange: QueryEntry = QueryEntry(
    "q84_mongo_events_range",
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    s.conf.set("spark.sql.graft.root", d)
    s.sql(
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM mongodb.tpcds.events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** CUBE grouping sets (completes the rollup/cube/grouping-sets
    * family, SURVEY.md §2.4 noted-absent). */
  val cubeAgg: QueryEntry = QueryEntry(
    "q20_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  /** Approximate distinct counting (HLL++) next to the exact count —
    * the sketch the reference leaves unexercised (SURVEY.md §2.4).
    * Sketch BYTES are engine-specific, but the estimate's ERROR BOUND
    * is not: the entry emits each group's exact count plus a boolean
    * gating the HLL++ estimate (default rsd 0.05) within 3×rsd of it —
    * rows DuckDB reproduces exactly, so the estimator's numeric
    * contract is hash-gated (an estimate drifting past ±15% flips the
    * boolean and fails the oracle compare). */
  val approxDistinct: QueryEntry = QueryEntry(
    "q21_approx_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |       true AS approx_within_eps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * lit(3 * 0.05)).as("approx_within_eps"))
      .orderBy(col("l_returnflag"))
  }

  /** The reference engine compiles the q005 EXCEPT chain into a single
    * grouped aggregation over the unioned branches with per-branch
    * presence counts (results/q005/workers-1/explain.txt:25-37), where
    * Catalyst plans two anti-joins. This entry implements that
    * count-based strategy explicitly: one union, ONE shuffle, same
    * result as q05 (same oracle) — the shape to prefer at scale when
    * branch count grows. */
  val exceptCountRewrite: QueryEntry = QueryEntry(
    "q22_except_count_rewrite",
    """SELECT COUNT(*) AS cnt FROM (
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |  EXCEPT
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |  EXCEPT
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |)""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    def branch(st: String, i: Int) =
      o.filter(col("o_orderstatus") === st)
        .select(col("o_custkey"), lit(i).as("b"))
    branch("O", 0).unionByName(branch("F", 1)).unionByName(branch("P", 2))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("b") === 0, 1).otherwise(0)).as("in0"),
        max(when(col("b") === 1, 1).otherwise(0)).as("in1"),
        max(when(col("b") === 2, 1).otherwise(0)).as("in2"))
      .filter(col("in0") === 1 && col("in1") === 0 && col("in2") === 0)
      .agg(count(lit(1)).as("cnt"))
  }

  /** TPC-H Q1 shape — the canonical multi-aggregate pricing summary
    * (filter → wide grouped agg with derived expressions), decimal-exact
    * per the parity strategy. */
  val tpchQ1: QueryEntry = QueryEntry(
    "q23_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, d) =>
    val dec4 = (c: String) => col(c).cast(DecimalType(4, 2))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec4("l_discount")))
          .cast("double").as("sum_disc"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec4("l_discount")) * (lit(1) + dec4("l_tax")))
          .cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Exact percentiles (continuous interpolation — the same
    * sort-and-interpolate definition DuckDB's quantile_cont uses). */
  val percentiles: QueryEntry = QueryEntry(
    "q24_percentiles",
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.9) AS p90,
      |       quantile_cont(l_extendedprice, 0.5) AS price_p50
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_extendedprice, 0.5)").as("price_p50"))
      .orderBy(col("l_returnflag"))
  }

  /** q17's semantics through the custom GroupedTopK physical operator
    * (graft.plans: bounded per-group heap instead of WindowExec's full
    * per-partition sort) — same oracle as q17 proves plan-level
    * equivalence. */
  val groupedTopKCustom: QueryEntry = QueryEntry(
    "q25_grouped_topk_custom",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  ) { (s, d) =>
    graft.plans.GroupedTopK.topK(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false),
        3)
      .withColumnRenamed("rank", "rn")
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** PIVOT (wide aggregation) with explicit value list; empty cells
    * coalesced to 0 to match the CASE-count oracle formulation. */
  val pivotAgg: QueryEntry = QueryEntry(
    "q26_pivot",
    """SELECT o_orderstatus,
      |       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
      |       COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
      |       COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
      |       COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS notspec,
      |       COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val renames = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high",
      "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "notspec", "5-LOW" -> "low")
    val pivoted = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", renames.map(_._1))
      .agg(count(lit(1)))
    renames.foldLeft(pivoted) { case (df, (from, to)) =>
        df.withColumn(to, coalesce(col(s"`$from`"), lit(0L))).drop(from)
      }
      .orderBy(col("o_orderstatus"))
  }

  /** Single-pass argmax via struct-max: the per-group best row without
    * a window sort — one aggregation, deterministic through the
    * lexicographic (value, tiebreak) struct ordering. */
  val argMax: QueryEntry = QueryEntry(
    "q27_argmax",
    """SELECT o_orderstatus, o_orderkey AS best_order, o_totalprice AS best_price
      |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
      |             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
      .select(col("o_orderstatus"),
        col("m.o_orderkey").as("best_order"),
        col("m.o_totalprice").as("best_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** String-function breadth (pad/trim/replace/reverse/search/split). */
  val stringFunctions: QueryEntry = QueryEntry(
    "q28_string_funcs",
    """SELECT c_custkey,
      |       lpad(c_mktsegment, 12, '*') AS lp,
      |       rpad(c_mktsegment, 12, '.') AS rp,
      |       reverse(c_name) AS rev,
      |       replace(c_name, 'Customer', 'C') AS rep,
      |       CAST(strpos(c_name, '1') AS INTEGER) AS pos,
      |       left(c_name, 5) AS l5,
      |       right(c_name, 3) AS r3,
      |       split_part(c_name, '#', 2) AS sp,
      |       contains(c_name, '00') AS has00,
      |       CAST(length(c_name) AS INTEGER) AS len
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d).select(
        col("c_custkey"),
        lpad(col("c_mktsegment"), 12, "*").as("lp"),
        rpad(col("c_mktsegment"), 12, ".").as("rp"),
        reverse(col("c_name")).as("rev"),
        expr("replace(c_name, 'Customer', 'C')").as("rep"),
        expr("instr(c_name, '1')").as("pos"),
        expr("left(c_name, 5)").as("l5"),
        expr("right(c_name, 3)").as("r3"),
        expr("split_part(c_name, '#', 2)").as("sp"),
        col("c_name").contains("00").as("has00"),
        length(col("c_name")).as("len"))
      .orderBy(col("c_custkey"))
  }

  /** Date-function breadth (parts, truncation, last_day, day diffs);
    * day-of-week normalized to DuckDB's Sunday=0 convention. */
  val dateFunctions: QueryEntry = QueryEntry(
    "q29_date_funcs",
    """SELECT o_orderkey,
      |       CAST(o_orderdate AS DATE) AS od,
      |       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
      |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
      |       CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS dd,
      |       CAST(EXTRACT(DOY FROM o_orderdate) AS INTEGER) AS doy,
      |       CAST(EXTRACT(DOW FROM o_orderdate) AS INTEGER) AS dow,
      |       last_day(CAST(o_orderdate AS DATE)) AS ld,
      |       date_trunc('month', CAST(o_orderdate AS DATE)) AS mstart,
      |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
      |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dd"),
        dayofyear(col("o_orderdate")).as("doy"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        last_day(col("o_orderdate")).as("ld"),
        trunc(col("o_orderdate").cast("date"), "month").as("mstart"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"))
      .orderBy(col("o_orderkey"))
      .limit(200)
  }

  /** TPC-H Q3 shape: 3-table selective join, grouped revenue, TopN. */
  val tpchQ3: QueryEntry = QueryEntry(
    "q30_tpch_q3",
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       CAST(o_orderdate AS DATE) AS od
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, od
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("od"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("od"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: 6-table join (incl. the supplier-nation equality
    * that closes the join graph cycle), grouped revenue per nation —
    * the join-reorder workout. */
  val tpchQ5: QueryEntry = QueryEntry(
    "q31_tpch_q5",
    """SELECT n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql(
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** Correlated scalar subquery (per-customer average built exactly so
    * both engines agree at the comparison boundary). */
  val correlatedScalarSubquery: QueryEntry = QueryEntry(
    "q32_correlated_subquery",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** IN (subquery) — compiles to a semi join. */
  val inSubquery: QueryEntry = QueryEntry(
    "q33_in_subquery",
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql(
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    * match each other, over small distinct key sets. */
  val nullSafeJoin: QueryEntry = QueryEntry(
    "q34_nullsafe_join",
    """WITH a AS (SELECT DISTINCT CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_linenumber END AS k FROM lineitem),
      |b AS (SELECT DISTINCT CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE n_nationkey % 8 END AS k FROM nation)
      |SELECT a.k AS ak, b.k AS bk FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY ak NULLS FIRST""".stripMargin
  ) { (s, d) =>
    val a = Tables.lineitem(s, d)
      .select(when(col("l_linenumber") % 4 === 0, lit(null)).otherwise(col("l_linenumber")).as("k"))
      .distinct()
    val b = Tables.nation(s, d)
      .select(when(col("n_nationkey") % 4 === 0, lit(null)).otherwise(col("n_nationkey") % 8).as("k"))
      .distinct()
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("ak"), b("k").as("bk"))
      .orderBy(asc_nulls_first("ak"))
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * first & nth value over a fully tiebroken ordering. Partitioned by
    * o_custkey (cardinality ≈ |customer|) so window parallelism scales
    * with the data — a status-like key would cap the sort at 3 tasks. */
  val windowDistribution: QueryEntry = QueryEntry(
    "q35_window_distribution",
    """SELECT o_orderkey, o_custkey,
      |       NTILE(4) OVER w AS quartile,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd,
      |       first_value(o_orderkey) OVER w AS first_k,
      |       nth_value(o_orderkey, 2) OVER w AS second_k
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("o_orderkey")).over(w).as("first_k"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_k"))
      .orderBy(col("o_orderkey"))
  }

  /** q36's raw sketch lifecycle (HllSpec reads this form): per-flag
    * datasketches HLL sketches with their estimates, exact counts, the
    * MERGED union's total estimate, and the exact global total. */
  def hllSketchRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // spread (r20): the sketch-build + distinct partial-agg map stage
    // is CPU-bound over the local scan's 3 splits (1.1 s of q36's
    // 1.6 s profile); project to the two used columns first so the
    // spread shuffle carries 12 bytes/row, and let Tables.spread stay
    // the identity at scale
    val li = Tables.spread(
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_partkey")),
      col("l_partkey"))
    val perFlag = li
      .groupBy(col("l_returnflag"))
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"),
        countDistinct(col("l_partkey")).as("exact"))
    val merged = perFlag.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total"))
    val exactTotal = li
      .agg(countDistinct(col("l_partkey")).as("exact_total"))
    perFlag
      .select(col("l_returnflag"),
        expr("hll_sketch_estimate(sk)").as("est"), col("exact"))
      .crossJoin(broadcast(merged))
      .crossJoin(broadcast(exactTotal))
      .orderBy(col("l_returnflag"))
  }

  /** 5× the datasketches HLL relative standard error at the default
    * lgConfigK = 12 (RSE = 1.04/√2¹² ≈ 1.63%) — fires on a broken
    * lifecycle, not estimator luck (same gate HllSpec uses). */
  val hllMaxRelErr: Double = 5 * 1.04 / math.sqrt(1 << 12)

  /** HLL sketch columns: build, merge, estimate (the sketch lifecycle a
    * large pipeline persists between runs). Sketch BYTES are
    * engine-specific, but the estimator's numeric contract is not: the
    * entry emits each group's exact distinct count plus booleans gating
    * the per-group estimate AND the merged-union total estimate within
    * 5×RSE of the exact values — rows DuckDB reproduces exactly, so
    * build + merge + estimate are all hash-gated (a register lost in
    * the union or an estimate past the bound flips a boolean). */
  val hllSketch: QueryEntry = QueryEntry(
    "q36_hll_sketch",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |       true AS est_within_eps, true AS union_within_eps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    hllSketchRaw(s, d).select(
      col("l_returnflag"), col("exact").as("exact_parts"),
      (abs(col("est") - col("exact")) <=
        col("exact") * lit(hllMaxRelErr)).as("est_within_eps"),
      (abs(col("est_total") - col("exact_total")) <=
        col("exact_total") * lit(hllMaxRelErr)).as("union_within_eps"))
      .orderBy(col("l_returnflag"))
  }

  /** Count-Min depth (hash rows) and width (buckets per row). */
  val cmsDepth = 4
  val cmsWidth = 1024

  /** Count-Min heavy hitters (q76) — Trino's `approx_most_frequent`
    * re-expressed as a RELATION: the 4×1024 sketch is just a grouped
    * count over (row, bucket = XXH64(row, word) mod width), so it
    * inherits Spark's partial aggregation (each task folds its
    * partition into ≤ 4096 counters; the exchange moves counters, not
    * tokens) and — unlike Misra-Gries/SpaceSaving, whose summary merge
    * is order-dependent — counter ADDITION commutes, so the sketch and
    * every estimate derived from it are identical under any
    * partitioning (DeterminismSpec-safe by construction).
    *
    * Estimation joins candidates to the broadcast O(depth·width)
    * sketch on the recomputed bucket and takes min over rows: the
    * classic CMS guarantee est ≥ true always, est ≤ true + εN w.h.p.
    * Candidates here are the corpus's own distinct words (exact counts
    * carried alongside to expose the overestimate); in production the
    * candidate set is a fixed query list and the corpus is scanned
    * once. Oracled r11: the sketch IS a deterministic relation —
    * counters are grouped counts over seed-chained XXH64 buckets
    * (row r's seed = XXH64.hashInt(r, 42), computed once here and
    * embedded as literals; the word hash itself transcribed in
    * [[graft.operators.XxhOracle]]) — so the mirror rebuilds the
    * 4×1024 counter table and replays the min-over-rows estimates
    * exactly. SketchSpec's bound gates (est ≥ exact, containment)
    * unchanged. */
  val cmsTopK: QueryEntry = QueryEntry(
    "q76_cms_topk", {
      val seeds = (0 until cmsDepth).map(i =>
        java.lang.Long.toUnsignedString(
          org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L)))
      val (chains, last) = seeds.zipWithIndex
        .foldLeft((Seq.empty[String], "vocab")) { case ((acc, src), (seed, r)) =>
          val (c, l) = graft.operators.XxhOracle.hashStrCtes(
            s"q$r", src, "w", s"$seed::HUGEINT", s"h$r")
          (acc :+ c, l)
        }
      val bCols = (0 until cmsDepth)
        .map(r => s"CAST(h$r % $cmsWidth AS BIGINT) AS b$r").mkString(", ")
      val melt = (0 until cmsDepth)
        .map(r => s"SELECT w, $r AS r, b$r AS b FROM wb").mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |vocab AS (SELECT DISTINCT w FROM tok),
         |${chains.mkString(",\n")},
         |wb AS (SELECT w, $bCols FROM $last),
         |cnt AS (SELECT w, COUNT(*) AS exact FROM tok GROUP BY 1),
         |melt AS ($melt),
         |cms AS (SELECT m.r, m.b, SUM(c.exact) AS cnt
         |        FROM melt m JOIN cnt c USING (w) GROUP BY 1, 2),
         |est AS (SELECT m.w, CAST(MIN(s.cnt) AS BIGINT) AS est
         |        FROM melt m JOIN cms s ON s.r = m.r AND s.b = m.b GROUP BY 1)
         |SELECT c.w, c.exact, e.est
         |FROM cnt c JOIN est e ON e.w = c.w
         |ORDER BY e.est DESC, c.w LIMIT 20""".stripMargin
    }
  ) { (s, d) =>
    val w = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
    val buckets = (0 until cmsDepth).map(i =>
      struct(lit(i).as("r"),
        pmod(xxhash64(lit(i), col("w")), lit(cmsWidth)).as("b")))
    val cms = w.select(explode(array(buckets: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val cand = w.groupBy(col("w")).agg(count(lit(1)).as("exact"))
    cand.select(col("w"), col("exact"),
        explode(array(buckets: _*)).as("rb"))
      .select(col("w"), col("exact"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("w"), col("exact"))
      .agg(min(col("cnt")).as("est"))
      .orderBy(col("est").desc, col("w"))
      .limit(20)
  }

  /** DISTINCT over an inner join — the reference's q005 partial-
    * aggregation-through-join shape (results/q005/workers-1/
    * explain.txt:126: `Aggregate[type = PARTIAL, keys = [d_date_3,
    * ss_customer_sk]]` UNDER the customer join). The injected
    * PushPartialDistinctBelowJoin rule places an exchange-free partial
    * distinct on each join input, so the join exchange ships deduped
    * (o_custkey, o_orderdate) pairs instead of raw orders rows —
    * ExtensionsSpec asserts the plan, this entry's oracle proves the
    * semantics. */
  lazy val distinctJoin: QueryEntry = QueryEntry(
    "q70_distinct_join",
    """SELECT DISTINCT o_orderdate, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 100000
      |ORDER BY o_orderdate, c_mktsegment""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderdate"), col("c_mktsegment"))
      .distinct()
      .orderBy(col("o_orderdate"), col("c_mktsegment"))
  }

  /** min/max + DISTINCT-aggregate over an inner join — exercises the
    * round-8 generalization of PushPartialDistinctBelowJoin from pure
    * distinct to every duplicate-insensitive aggregate: each join input
    * is deduped per-partition on its (group ∪ join ∪ agg-arg) columns
    * with no exchange before the join ships rows (the reference q005
    * shape, results/q005/workers-1/explain.txt:126-128, which
    * pre-aggregates 137.8M rows below the customer join).
    * ExtensionsSpec asserts the plan; this oracle proves the
    * semantics survive the rewrite. */
  lazy val minMaxJoin: QueryEntry = QueryEntry(
    "q71_minmax_join",
    """SELECT c_mktsegment,
      |       MIN(o_orderdate) AS first_order,
      |       MAX(o_totalprice) AS max_price,
      |       COUNT(DISTINCT o_orderpriority) AS pris
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(min(col("o_orderdate")).as("first_order"),
        max(col("o_totalprice")).as("max_price"),
        countDistinct(col("o_orderpriority")).as("pris"))
      .orderBy(col("c_mktsegment"))
  }

  /** UNPIVOT / melt (q72): wide per-status metrics back to tidy long
    * form via Dataset.unpivot — the inverse of q26's PIVOT and the
    * wide-metrics → long-form reshaping every feature-store ingest
    * does. Values all cast to double (counts are integer-valued, so
    * the cast is exact and the oracle's UNION ALL form matches
    * bit-for-bit). At scale: a map-only row expansion of an
    * already-aggregated ≤|status|×|metrics| table. */
  lazy val unpivotMetrics: QueryEntry = QueryEntry(
    "q72_unpivot",
    """WITH m AS (SELECT o_orderstatus,
      |                  CAST(COUNT(*) AS DOUBLE) AS cnt,
      |                  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |           FROM orders GROUP BY 1)
      |SELECT o_orderstatus, 'cnt' AS metric, cnt AS value FROM m
      |UNION ALL
      |SELECT o_orderstatus, 'total', total FROM m
      |ORDER BY o_orderstatus, metric""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .unpivot(Array(col("o_orderstatus")), Array(col("cnt"), col("total")),
        "metric", "value")
      .orderBy(col("o_orderstatus"), col("metric"))
  }

  /** Cluster-state metadata relation (q73) — the `system.runtime.nodes`
    * analogue (reference deployment smoke check,
    * trino/tasks/main.yml:244-252): one row per live executor from
    * `sc.statusTracker`, with id / host:port / version / coordinator
    * flag / state. Driver-side BY DEFINITION — the relation is O(#
    * executors), the same place Trino's coordinator answers it from;
    * no data is scanned. Rows-only (cluster state is not in parquet);
    * CatalogSpec gates shape and the driver row's presence. */
  lazy val runtimeNodes: QueryEntry = QueryEntry.noOracle("q73_runtime_nodes") { (s, _) =>
    import s.implicits._
    val sc = s.sparkContext
    val driverHost = sc.getConf.get("spark.driver.host", "localhost")
    sc.statusTracker.getExecutorInfos.toSeq
      .map { e =>
        val id = e.host + ":" + e.port
        (id, s"spark://$id", sc.version,
          sc.isLocal || e.host == driverHost, "active")
      }
      .toDF("node_id", "http_uri", "node_version", "coordinator", "state")
      .orderBy(col("node_id"))
  }

  /** Query-profile relation (q78) — Trino's `EXPLAIN ANALYZE` /
    * `system.runtime.tasks` observability surfaced as a RELATION: run
    * a representative query (q03's join+agg+topN shape), then walk its
    * EXECUTED plan and emit one row per physical operator with its
    * realized row-flow metrics (numOutputRows where the operator
    * reports it). This is how an operator answers "where did the rows
    * go?" without screen-scraping a UI — the profile is O(plan nodes),
    * driver-side by definition, like q73. Rows-only (metrics are not
    * in parquet); ProfileSpec gates the physics: the scan rows equal
    * the table counts, every join/agg output is consistent with the
    * oracled q03 result, and node ordering is the plan's preorder. */
  lazy val queryProfile: QueryEntry = QueryEntry.noOracle("q78_query_profile") { (s, d) =>
    import s.implicits._
    val df = joinAggTopN.build(s, d)
    // execute through df's OWN QueryExecution (a sink write would plan
    // a separate execution whose metrics this walk would never see);
    // the profiled query is a TopN, so the driver-side result is O(k)
    df.collect()
    def executed(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val rows = scala.collection.mutable.ListBuffer[(Int, String, Long)]()
    var i = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      val node = executed(p)
      val out = node.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      rows += ((i, node.nodeName, out)); i += 1
      node.children.foreach(walk)
      node match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => ()
      }
    }
    walk(df.queryExecution.executedPlan)
    rows.toSeq.toDF("node_idx", "node", "output_rows")
      .orderBy(col("node_idx"))
  }

  /** Bucketed co-located join (q74) — the storage-level shuffle
    * elimination every 100 TB warehouse leans on: both join sides are
    * written ONCE as bucketed tables (8 buckets on the join key, one
    * file per bucket via a pre-write repartition, sortBy so bucket
    * files are key-sorted), and every subsequent equi-join on that key
    * joins bucket-to-bucket with NO exchange and NO sort on either
    * side — the fact-to-fact join cost drops from 2 full shuffles per
    * query to zero, amortized over the table's lifetime. This is
    * Spark's table-layout analogue of co-located execution; the probe
    * plan is pinned in PlanAuditSpec (SortMergeJoin, zero shuffles
    * below it) with broadcast disabled so the gate can't be satisfied
    * vacuously. Write is a side effect of entry construction, like the
    * persisted ANN indexes (single-writer contract, Similarity
    * indexDir scaladoc). Results carry d07-style exact semantics →
    * full DuckDB oracle over the raw parquet. */
  lazy val bucketedJoin: QueryEntry = QueryEntry(
    "q74_bucketed_join",
    """SELECT o_orderpriority,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    // the in-memory catalog dies with the session but the managed
    // table dirs survive — clear both or CTAS refuses the location
    Seq("graft_q74_orders", "graft_q74_lineitem").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    Tables.orders(s, d).repartition(8, col("o_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_q74_orders")
    Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_q74_lineitem")
    s.table("graft_q74_lineitem")
      .join(s.table("graft_q74_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT (q75) — the
    * per-row "top-N related rows" idiom SQL users reach for before
    * they know window functions: for each nation, its two
    * highest-balance customers via a LATERAL derived table. Spark
    * plans the correlation as a DomainJoin-decorrelated window (the
    * same physical shape as q17's rank filter), so the lateral
    * SURFACE costs nothing over the window spelling: one exchange on
    * the correlation key, per-group top-2 bounded by
    * WindowGroupLimit — no per-outer-row re-execution anywhere, which
    * is what makes the construct survive a 100 TB outer side.
    * Integers/decimals + full tiebreakers → exact oracle (DuckDB runs
    * the identical text). */
  val lateralTopN: QueryEntry = {
    val sql =
      """SELECT n.n_name, c.c_name, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""".stripMargin
    QueryEntry("q75_lateral_topn", sql) { (s, d) =>
      Tables.registerViews(s, d)
      s.sql(sql)
    }
  }

  /** Salted skew join (q77) — the manual hot-key mitigation promoted
    * to a first-class, exactly-oracled entry: the fact side's rows are
    * spread across 8 salt partitions by a hash of a WITHIN-key-varying
    * column, the dimension side is replicated once per salt value, and
    * the join key becomes (key, salt) — so a pathologically hot
    * supplier key occupies 8 tasks instead of straggling on one. AQE's
    * skew-join split handles moderate skew at shuffle-block granularity
    * for free; explicit salting is the tool for the single-key extreme
    * where one key exceeds what block splitting can balance. The oracle
    * is the PLAIN join — the gate proves the rewrite is semantically
    * invisible. SkewSpec covers the mechanism on a crafted hot key. */
  lazy val saltedSkewJoin: QueryEntry = QueryEntry(
    "q77_salted_skew_join",
    """SELECT s_nationkey, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val li = Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"),
      col("l_orderkey"), col("l_quantity"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey").as("suppkey"),
      col("s_nationkey"))
    Skew.saltedJoin(li, sup, "suppkey", col("l_orderkey"), 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("qty"))
      .orderBy(col("s_nationkey"))
  }

  /** Recursive CTE (q80) — iterative hierarchy traversal as a native
    * SQL statement (WITH RECURSIVE, new surface in Spark 4.x): each
    * document walks the binary-heap ancestor chain parent = id div 2
    * up to the root, accumulating depth and path character mass.
    * The per-iteration step is a hash join of the shrinking frontier
    * against the dimension on its key, so a D-deep hierarchy costs D
    * bounded joins — the plan shape that lets org-chart / category-
    * tree rollups run distributed instead of in driver loops.
    * Arithmetic is all-integer, so the fixpoint is hash-exact against
    * DuckDB's recursive evaluation of the same chain. */
  lazy val recursiveAncestors: QueryEntry = QueryEntry(
    "q80_recursive_cte",
    """WITH RECURSIVE walk(doc_id, cur, depth, path_chars) AS (
      |  SELECT doc_id, doc_id, 0, n_chars FROM documents WHERE doc_id >= 1
      |  UNION ALL
      |  SELECT w.doc_id, d.doc_id, w.depth + 1, w.path_chars + d.n_chars
      |  FROM walk w JOIN documents d ON d.doc_id = w.cur // 2
      |  WHERE w.cur > 1)
      |SELECT doc_id, depth, path_chars
      |FROM walk WHERE cur = 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // documents only (not registerViews): `Harness proof`'s corpus dirs
    // carry just the scaled tables this query reads
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """WITH RECURSIVE walk(doc_id, cur, depth, path_chars) AS (
        |  SELECT doc_id, doc_id, 0, n_chars FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT w.doc_id, d.doc_id, w.depth + 1, w.path_chars + d.n_chars
        |  FROM walk w JOIN documents d ON d.doc_id = w.cur div 2
        |  WHERE w.cur > 1)
        |SELECT doc_id, depth, path_chars
        |FROM walk WHERE cur = 1 ORDER BY doc_id""".stripMargin)
  }

  val all: Seq[QueryEntry] = Seq(
    aggPushdownSum, scanGroupAgg, joinAggTopN, leftJoinCaseAgg,
    exceptChainCount, distinctKeys, semiJoin, antiJoin, intersectCount,
    unionAllAgg, topNNullsLast, rollupAgg, countDistinctAgg,
    scalarFunctions, shuffledJoinAgg, minMaxAvg, windowTopK, windowRunning,
    federatedJoin, cubeAgg, approxDistinct, exceptCountRewrite, tpchQ1,
    percentiles, groupedTopKCustom, pivotAgg, argMax, stringFunctions,
    dateFunctions, tpchQ3, tpchQ5, correlatedScalarSubquery, inSubquery,
    nullSafeJoin, windowDistribution, hllSketch, havingAgg, filteredAgg,
    arrayAgg, likePredicates, summaryStats, tpchQ4, tpchQ12, tpchQ18,
    rangeFrameWindow, approxPercentiles, distinctJoin, minMaxJoin,
    unpivotMetrics, runtimeNodes, bucketedJoin, lateralTopN, cmsTopK,
    saltedSkewJoin, queryProfile, heterogeneousFederation,
    recursiveAncestors, elasticFederation, cboStatsJoin,
    mongoWireFederation, mongoEventsRange, elasticRuntimeFilter,
    jdbcRuntimeFilter)

  /** RANGE-frame window (value-based bounds, distinct from ROWS
    * frames): per-customer sum over orders whose key lies within the
    * trailing 5-key band. Partitioned by o_custkey so the window sort
    * parallelizes across the cluster instead of 3 status partitions. */
  lazy val rangeFrameWindow: QueryEntry = QueryEntry(
    "q45_range_frame",
    """SELECT o_orderkey, o_custkey,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |                  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE) AS band_sales
      |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderkey"))
      .rangeBetween(-5, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("band_sales"))
      .orderBy(col("o_orderkey"))
      .limit(1000)
  }

  /** Approximate percentiles (GK summary sketch) — summary BYTES and
    * estimates are engine-specific, but the sketch's RANK-ERROR
    * guarantee is not: `approx_percentile(x, p, 1000)` returns an
    * exact quantile at some p' with |p' − p| ≤ 0.001, so each entry
    * gates its estimate inside the exact quantile envelope at p ± 5×
    * that bound (the QualityGatesSpec construction) and emits the
    * booleans — rows DuckDB reproduces exactly, hash-gating the sketch
    * numerically (raw estimates stay spec-gated in QualityGatesSpec;
    * the exact interpolated percentile VALUES are deliberately not
    * emitted — both engines interpolate with a non-binary-exact p, an
    * ulp-level hash hazard the boolean construction avoids). */
  lazy val approxPercentiles: QueryEntry = QueryEntry(
    "q46_approx_percentiles",
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |       true AS p50_within_eps, true AS p90_within_eps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    val eps = 0.005
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("a50"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("a90"),
        expr(s"percentile(l_quantity, ${0.5 - eps})").as("lo50"),
        expr(s"percentile(l_quantity, ${0.5 + eps})").as("hi50"),
        expr(s"percentile(l_quantity, ${0.9 - eps})").as("lo90"),
        expr(s"percentile(l_quantity, ${0.9 + eps})").as("hi90"))
      .select(col("l_returnflag"), col("n_rows"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50"))
          .as("p50_within_eps"),
        (col("a90") >= col("lo90") && col("a90") <= col("hi90"))
          .as("p90_within_eps"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q4 shape: EXISTS-correlated count by priority. */
  lazy val tpchQ4: QueryEntry = QueryEntry(
    "q42_tpch_q4",
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q12 shape: join + CASE-bucketed conditional counting. */
  lazy val tpchQ12: QueryEntry = QueryEntry(
    "q43_tpch_q12",
    """SELECT l_linestatus,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  ) { (s, d) =>
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
        sum(when(!hi, 1).otherwise(0)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q18 shape: large-quantity orders via IN (grouped HAVING
    * subquery), re-joined to customer detail. */
  lazy val tpchQ18: QueryEntry = QueryEntry(
    "q44_tpch_q18",
    """SELECT c_name, o_orderkey,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, o_orderkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin
  ) { (s, d) =>
    Tables.registerViews(s, d)
    s.sql(
      """SELECT c_name, o_orderkey,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin)
  }

  /** LIKE-family pattern predicates (standard SQL semantics, identical
    * across engines — unlike regex dialects). */
  lazy val likePredicates: QueryEntry = QueryEntry(
    "q40_like_predicates",
    """SELECT o_orderkey,
      |       o_orderpriority LIKE '%HIGH%' AS is_high,
      |       o_orderpriority NOT LIKE '_-%' AS odd_shape,
      |       o_orderpriority ILIKE '%high%' AS is_high_ci,
      |       o_orderpriority LIKE '1%' AS is_one
      |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        col("o_orderpriority").like("%HIGH%").as("is_high"),
        (!col("o_orderpriority").like("_-%")).as("odd_shape"),
        col("o_orderpriority").ilike("%high%").as("is_high_ci"),
        col("o_orderpriority").like("1%").as("is_one"))
      .orderBy(col("o_orderkey"))
      .limit(500)
  }

  /** Summary statistics with deterministic numerics: mean and sample
    * variance derived from exact decimal sums (sum, sum of squares),
    * so the double arithmetic is identical in any engine/partitioning —
    * the stable alternative to streaming variance. */
  lazy val summaryStats: QueryEntry = QueryEntry(
    "q41_summary_stats",
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mean,
      |       (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |         - CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |           * CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      |         / (COUNT(*) - 1) AS variance
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    val q = dec(col("l_quantity"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (sum(q).cast("double") / count(lit(1))).as("mean"),
        ((sum(q * q).cast("double")
          - sum(q).cast("double") * sum(q).cast("double") / count(lit(1)))
          / (count(lit(1)) - 1)).as("variance"))
      .orderBy(col("l_returnflag"))
  }

  /** GROUP BY ... HAVING on an aggregate. */
  lazy val havingAgg: QueryEntry = QueryEntry(
    "q37_having",
    """SELECT o_custkey, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_custkey
      |HAVING COUNT(*) >= 12
      |ORDER BY o_custkey""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .filter(col("n") >= 12)
      .orderBy(col("o_custkey"))
  }

  /** FILTER (WHERE ...) clauses on aggregates — per-aggregate
    * conditional accumulation in one pass. */
  lazy val filteredAgg: QueryEntry = QueryEntry(
    "q38_filtered_agg",
    """SELECT l_returnflag,
      |       COUNT(*) FILTER (WHERE l_quantity > 25) AS big_qty,
      |       COUNT(*) FILTER (WHERE l_discount > CAST(0.05 AS DOUBLE)) AS discounted,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_quantity > 25) AS DOUBLE) AS big_sales
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count(1) FILTER (WHERE l_quantity > 25)").as("big_qty"),
        expr("count(1) FILTER (WHERE l_discount > 0.05D)").as("discounted"),
        expr("cast(sum(cast(l_extendedprice as decimal(12,2))) FILTER (WHERE l_quantity > 25) as double)")
          .as("big_sales"))
      .orderBy(col("l_returnflag"))
  }

  /** Array aggregation: per-group sorted key lists. The list is built
    * as a real array aggregate in both engines, then serialized to a
    * joined string for output — the verify pipeline's column-sorted
    * hash compare cannot hash raw array cells. */
  lazy val arrayAgg: QueryEntry = QueryEntry(
    "q39_array_agg",
    """SELECT n_regionkey,
      |       array_to_string(list_sort(list(n_name)), '|') AS names
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin
  ) { (s, d) =>
    Tables.nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), "|").as("names"))
      .orderBy(col("n_regionkey"))
  }
}
