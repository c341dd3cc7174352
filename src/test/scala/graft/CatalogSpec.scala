package graft

import org.apache.spark.sql.functions._

/** Federated multi-catalog surface (SURVEY.md §4.3.1): three-part
  * names, placement enforcement, namespace DDL, CTAS/DROP through the
  * DSv2 catalog — mirroring the reference's psql/mongodb/elastic split
  * (loader.py:313-322). */
class CatalogSpec extends SparkSpec {

  private def useRoot(dir: String): Unit =
    spark.conf.set("spark.sql.graft.root", dir)

  test("three-part names resolve per catalog placement") {
    useRoot(sf1)
    assert(spark.sql("SELECT * FROM psql.tpcds.lineitem").count() > 0)
    assert(spark.sql("SELECT * FROM mongodb.tpcds.orders").count() > 0)
    assert(spark.sql("SELECT * FROM elastic.default.documents").count() > 0)
  }

  test("placement is enforced: orders is not in psql") {
    useRoot(sf1)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM psql.tpcds.orders").collect()
    }
    assert(e.getMessage.contains("orders") || e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("catalog scans get filter pushdown and column pruning") {
    useRoot(sf1)
    val q = spark.sql(
      "SELECT l_orderkey FROM psql.tpcds.lineitem WHERE l_suppkey = 3")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,3)]"), plan)
    assert(q.count() > 0)
  }

  test("SHOW NAMESPACES / SHOW TABLES") {
    useRoot(sf1)
    val ns = spark.sql("SHOW NAMESPACES IN psql").collect().map(_.getString(0))
    assert(ns.contains("tpcds"))
    val ts = spark.sql("SHOW TABLES IN psql.tpcds").collect().map(_.getString(1))
    assert(ts.contains("lineitem") && !ts.contains("orders"))
  }

  test("q73 runtime-nodes relation reports live cluster state") {
    val rows = SparkEntry.queries("q73_runtime_nodes")(spark, sf1).collect()
    assert(rows.nonEmpty, "no executors reported")
    // local mode: the driver IS the fleet, and the one node must be
    // marked coordinator and active, with the session's Spark version
    assert(rows.exists(_.getBoolean(3)), "no coordinator row")
    assert(rows.forall(_.getString(4) == "active"))
    assert(rows.forall(_.getString(2) == spark.sparkContext.version))
    val ids = rows.map(_.getString(0))
    assert(ids.distinct.length == ids.length, "duplicate node ids")
  }

  test("CREATE NAMESPACE / CTAS / DROP TABLE through the catalog") {
    useRoot(sf1)
    val root = tempDir("graft-cat").toString
    // copy a source file so the temp root serves psql tables
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf1/nation.parquet"),
      java.nio.file.Paths.get(s"$root/nation.parquet"))
    useRoot(root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS psql.staging")
    spark.sql(
      """CREATE TABLE psql.tpcds.nation_small AS
        |SELECT n_nationkey, n_name FROM psql.tpcds.nation WHERE n_regionkey = 0""".stripMargin)
    val back = spark.sql("SELECT * FROM psql.tpcds.nation_small")
    assert(back.count() > 0 && back.columns.toSeq == Seq("n_nationkey", "n_name"))
    spark.sql("DROP TABLE psql.tpcds.nation_small")
    useRoot(sf1)
  }

  test("CTAS tables are durable: visible and droppable from a fresh session") {
    val root = tempDir("graft-dur").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf1/nation.parquet"),
      java.nio.file.Paths.get(s"$root/nation.parquet"))
    useRoot(root)
    spark.sql(
      """CREATE TABLE psql.tpcds.nation_dur AS
        |SELECT n_nationkey, n_name FROM psql.tpcds.nation""".stripMargin)
    // a brand-new session has fresh catalog instances (empty in-memory
    // state) — the table must still resolve from the directory on disk
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.graft.root", root)
    assert(s2.sql("SELECT * FROM psql.tpcds.nation_dur").count() > 0)
    assert(s2.sql("SHOW TABLES IN psql.tpcds").collect().map(_.getString(1))
      .contains("nation_dur"))
    s2.sql("DROP TABLE psql.tpcds.nation_dur")
    assert(!new java.io.File(s"$root/nation_dur.parquet").exists())
    // source data (a single parquet file) is still not droppable
    assert(!s2.sessionState.catalogManager.catalog("psql")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .dropTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("tpcds"), "nation")))
    useRoot(sf1)
  }

  test("partitioned CTAS lands hive layout and reads back partition-pruned") {
    useRoot(sf1)
    val root = tempDir("graft-part").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf1/nation.parquet"),
      java.nio.file.Paths.get(s"$root/nation.parquet"))
    useRoot(root)
    try {
      spark.sql(
        """CREATE TABLE psql.tpcds.nation_part PARTITIONED BY (n_regionkey) AS
          |SELECT n_nationkey, n_name, n_regionkey FROM psql.tpcds.nation""".stripMargin)
      // hive col=value layout on disk — what partition discovery and a
      // 100-TB date-partitioned fact rely on
      val sub = new java.io.File(s"$root/nation_part.parquet").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(sub.exists(_.startsWith("n_regionkey=")), sub.mkString(","))
      val all = spark.sql("SELECT * FROM psql.tpcds.nation_part")
      assert(all.count() == 25)
      // a partition-key filter must prune at the scan, not post-filter
      val one = spark.sql(
        "SELECT n_name FROM psql.tpcds.nation_part WHERE n_regionkey = 2")
      assert(one.count() == 5)
      val scan = one.queryExecution.executedPlan.toString
      assert(scan.contains("n_regionkey=2") || scan.contains("PartitionFilters"), scan)
      spark.sql("DROP TABLE psql.tpcds.nation_part")
    } finally useRoot(sf1)
  }

  test("non-identity partition transforms are rejected loudly") {
    val root = tempDir("graft-rej").toString
    useRoot(root)
    try {
      val e = intercept[Exception] {
        spark.sql(
          """CREATE TABLE psql.tpcds.bad_part PARTITIONED BY (bucket(4, n_nationkey)) AS
            |SELECT 1 AS n_nationkey""".stripMargin)
      }
      assert(e.getMessage.contains("identity") || e.getMessage.toLowerCase.contains("bucket"),
        e.getMessage)
    } finally useRoot(sf1)
  }

  test("CTAS provenance isolates catalogs and protects source directories") {
    val root = tempDir("graft-iso").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf1/nation.parquet"),
      java.nio.file.Paths.get(s"$root/nation.parquet"))
    useRoot(root)
    try {
      spark.sql(
        """CREATE TABLE psql.tpcds.nation_iso AS
          |SELECT n_nationkey FROM psql.tpcds.nation""".stripMargin)
      import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
      def cat(n: String): TableCatalog =
        spark.sessionState.catalogManager.catalog(n).asInstanceOf[TableCatalog]
      val ident = Identifier.of(Array("tpcds"), "nation_iso")
      // a fresh session has no in-memory created-state: visibility and
      // drop rights come from the on-disk marker alone
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.graft.root", root)
      def cat2(n: String): TableCatalog =
        s2.sessionState.catalogManager.catalog(n).asInstanceOf[TableCatalog]
      // another catalog can neither see nor drop psql's CTAS output
      assert(!cat2("mongodb").tableExists(ident))
      assert(!cat2("elastic").dropTable(ident))
      assert(new java.io.File(s"$root/nation_iso.parquet").exists())
      // a marker-less directory (externally partitioned source data) is
      // never droppable, even though it is directory-shaped
      val srcDir = new java.io.File(s"$root/extsrc.parquet")
      new java.io.File(srcDir, "k=1").mkdirs()
      assert(!cat2("psql").dropTable(Identifier.of(Array("tpcds"), "extsrc")))
      assert(srcDir.exists())
      // the creating catalog still drops its own output
      assert(cat2("psql").dropTable(ident))
      assert(!new java.io.File(s"$root/nation_iso.parquet").exists())
    } finally useRoot(sf1)
  }

  test("schemaless JSON table: schema inferred once and persisted (_schema analogue)") {
    val root = tempDir("graft-json").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/docs.json"),
      "{\"id\": 1, \"body\": \"hello\"}\n{\"id\": 2, \"body\": \"world\"}\n".getBytes("UTF-8"))
    // a catalog with no placement list serves whatever the root holds —
    // the schemaless-store stand-in
    spark.conf.set("spark.sql.catalog.mongoraw", "graft.sources.GraftParquetCatalog")
    spark.conf.set("spark.sql.catalog.mongoraw.root", root)
    useRoot(root)
    try {
      val df = spark.sql("SELECT id, body FROM mongoraw.tpcds.docs")
      assert(df.count() == 2)
      // the inferred schema is persisted beside the data (loader.py:362's
      // _schema collection, as a directory)
      val sf = new java.io.File(s"$root/_schema/docs.json")
      assert(sf.exists(), "persisted schema missing")
      // later rows with new fields do NOT change the served schema: the
      // persisted one wins (the reference reads _schema, not the data)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/docs.json"),
        "{\"id\": 3, \"body\": \"x\", \"extra\": true}\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.mongoraw", "graft.sources.GraftParquetCatalog")
      s2.conf.set("spark.sql.catalog.mongoraw.root", root)
      s2.conf.set("spark.sql.graft.root", root)
      val again = s2.sql("SELECT * FROM mongoraw.tpcds.docs")
      assert(again.columns.toSeq.sorted == Seq("body", "id"))
      assert(again.count() == 3)
    } finally {
      spark.conf.unset("spark.sql.catalog.mongoraw")
      spark.conf.unset("spark.sql.catalog.mongoraw.root")
      useRoot(sf1)
    }
  }

  test("analysing a psql table reads its footer schema and launches no job") {
    useRoot(sf2)
    def analyze(): Unit = {
      spark.sql("SELECT * FROM psql.tpcds.lineitem").queryExecution.analyzed; ()
    }
    assert(jobsLaunchedBy(analyze()) == 0, "first analysis")
    assert(jobsLaunchedBy(analyze()) == 0, "second analysis")
    assert(spark.table("psql.tpcds.lineitem").schema ==
      spark.read.parquet(s"$sf2/lineitem.parquet").schema)
  }

  test("federated query spans catalogs with broadcast dims") {
    useRoot(sf1)
    val df = SparkEntry.queries("q19_federated_catalogs")(spark, sf1)
    val plan = df.queryExecution.executedPlan.toString
    assert(df.count() > 0)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
