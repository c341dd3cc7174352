package graft

import java.sql.ResultSet

/** Spark Connect wire-equality gate, mirroring SqlServerSpec's for the
  * Thrift protocol: the gRPC endpoint runs in the suite's session JVM,
  * and the client side is the REAL `jdbc:sc://` Connect JDBC driver
  * loaded from the distribution's client bundle through an ISOLATED
  * classloader (platform parent) — the client ships its own shaded
  * gRPC/netty, which must never mix with the server's shaded copy on
  * this JVM's classpath. Every statement is a genuine network
  * round-trip: gRPC ExecutePlan, Arrow result batches, decoded by the
  * client into java.sql rows. */
class ConnectSpec extends SparkSpec {

  private lazy val clientLoader: ClassLoader = {
    val dir = new java.io.File("/opt/spark/jars/connect-repl")
    assume(dir.isDirectory, "Spark Connect client bundle not present")
    // the bundle has no scala-library / client-side API jars of its
    // own — borrow the distribution's libraries, EXCLUDING the server's
    // spark-connect jar (its org.apache.spark.sql.connect.* classes
    // must not shadow the client's; each side also carries its own
    // shaded gRPC under a distinct namespace). Client jars lead the
    // URL order, so client classes win any residual overlap.
    val base = new java.io.File("/opt/spark/jars").listFiles()
      .filter(f => f.getName.endsWith(".jar") &&
        !f.getName.startsWith("spark-connect_"))
    val urls = (dir.listFiles().filter(_.getName.endsWith(".jar")) ++ base)
      .map(_.toURI.toURL)
    // platform parent: java.sql.* interfaces are shared (bootstrap),
    // nothing from the server classpath leaks into the client
    new java.net.URLClassLoader(urls, ClassLoader.getPlatformClassLoader)
  }

  /** ONE Connect service per JVM (GraftConnectServer.start is
    * idempotent and keeps its first binding port) — every test dials
    * this URL; a per-test fresh port would never be bound. */
  private lazy val serverUrl: String = {
    val port = {
      val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p
    }
    graft.sources.GraftConnectServer.start(spark, port)
    s"jdbc:sc://localhost:$port"
  }

  private def connect(url: String): java.sql.Connection = {
    val driver = clientLoader
      .loadClass("org.apache.spark.sql.connect.client.jdbc.SparkConnectDriver")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[java.sql.Driver]
    driver.connect(url, new java.util.Properties())
  }

  private def drain(rs: ResultSet): Seq[Seq[Any]] = try {
    val n = rs.getMetaData.getColumnCount
    val buf = scala.collection.mutable.ListBuffer[Seq[Any]]()
    while (rs.next()) buf += (1 to n).map(rs.getObject)
    buf.toSeq
  } finally rs.close() // frees the client's Arrow result buffers

  test("a Connect client's result equals direct execution (gRPC + Arrow wire)") {
    val conn = connect(serverUrl)
    try {
      val st = conn.createStatement()
      // a Connect session is its own SparkSession: it inherits the
      // static conf (catalog definitions) but pins its own root
      st.execute(s"SET spark.sql.graft.root=$sf1")
      val q = """SELECT n_regionkey, COUNT(*) AS n
                |FROM psql.tpcds.nation GROUP BY n_regionkey
                |ORDER BY n_regionkey""".stripMargin
      val wire = drain(st.executeQuery(q))
        .map(r => (r(0).asInstanceOf[Number].intValue,
          r(1).asInstanceOf[Number].longValue))
      spark.conf.set("spark.sql.graft.root", sf1)
      val local = spark.sql(q).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(wire == local, s"wire $wire != local $local")
      assert(wire.nonEmpty)
      // session isolation both ways: a view created over the wire does
      // not appear in the suite session
      st.execute("CREATE TEMPORARY VIEW connect_only AS SELECT 1 AS x")
      assert(drain(st.executeQuery("SELECT x FROM connect_only")) ==
        Seq(Seq(1)))
      assert(!spark.catalog.tableExists("connect_only"),
        "a Connect session's temp view leaked into the server session")
    } finally conn.close()
  }

  test("wire catalogs federate through a Connect session (verdict r14 #8)") {
    // the federation surface on the second client face: a Connect
    // session (its OWN SparkSession from the shared static conf) joins
    // the mongodb OP_MSG catalog and the elastic scroll catalog to
    // parquet over jdbc:sc:// — both stores are dialed from the
    // Connect session's planner, not the suite session's
    val conn = connect(serverUrl)
    try {
      val st = conn.createStatement()
      st.execute(s"SET spark.sql.graft.root=$sf1")
      val q = """SELECT c_mktsegment, COUNT(*) AS n
                |FROM mongodb.tpcds.orders o
                |JOIN psql.tpcds.customer c ON o.o_custkey = c.c_custkey
                |WHERE o.o_orderstatus = 'F'
                |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      val wire = drain(st.executeQuery(q))
        .map(r => (r(0).toString, r(1).asInstanceOf[Number].longValue))
      spark.conf.set("spark.sql.graft.root", sf1)
      val local = spark.sql(q).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(wire == local && wire.nonEmpty, s"wire $wire != local $local")
      val qe = """SELECT lang, COUNT(*) AS n
                 |FROM elastic.default.documents
                 |GROUP BY lang ORDER BY lang""".stripMargin
      val wireEs = drain(st.executeQuery(qe))
        .map(r => (r(0).toString, r(1).asInstanceOf[Number].longValue))
      val localEs = spark.sql(qe).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(wireEs == localEs && wireEs.nonEmpty,
        s"wire $wireEs != local $localEs")
    } finally conn.close()
  }

  test("all DML + maintenance verbs run as Connect wire statements") {
    // the gRPC mirror of SqlServerSpec's Thrift wire-DML gate
    // (verdict r13 #7): a Connect session is its OWN SparkSession
    // built from the same static conf, so the injected parser
    // (OPTIMIZE/VACUUM/ANALYZE) and the DML routing rules must hold
    // end to end over ExecutePlan — not just read parity.
    val scratch = tempDir("graft_conn_dml").toPath
    val conn = connect(serverUrl)
    try {
      val st = conn.createStatement()
      st.execute(s"SET spark.sql.graft.root=$scratch")
      st.execute("DROP TABLE IF EXISTS psql.tpcds.conn_dml")
      st.execute("CREATE TABLE psql.tpcds.conn_dml " +
        "TBLPROPERTIES('versioned'='true') AS " +
        "SELECT id AS k, CONCAT('v', CAST(id AS STRING)) AS v FROM RANGE(4)")
      st.execute("INSERT INTO psql.tpcds.conn_dml VALUES (9, 'ins')")
      st.execute("UPDATE psql.tpcds.conn_dml SET v = v || '!' WHERE k = 1")
      st.execute("CREATE OR REPLACE TEMPORARY VIEW conn_src AS " +
        "SELECT 2 AS k, 'merged' AS v UNION ALL SELECT 100, 'new'")
      st.execute("""MERGE INTO psql.tpcds.conn_dml t USING conn_src s
                   |ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      st.execute("DELETE FROM psql.tpcds.conn_dml WHERE k = 3")
      val rows = drain(st.executeQuery(
        "SELECT k, v FROM psql.tpcds.conn_dml ORDER BY k"))
        .map(r => (r(0).asInstanceOf[Number].longValue, r(1).toString))
      assert(rows == Seq(0L -> "v0", 1L -> "v1!", 2L -> "merged",
        9L -> "ins", 100L -> "new"), rows.toString)
      // pre-DML snapshots stay time-travelable over the wire
      val v1 = drain(st.executeQuery(
        "SELECT COUNT(*) FROM psql.tpcds.conn_dml VERSION AS OF 1"))
      assert(v1.head.head.asInstanceOf[Number].longValue == 4L)
      // maintenance + stats verbs through the injected parser
      val metrics = drain(st.executeQuery("OPTIMIZE psql.tpcds.conn_dml"))
        .map(r => r(0).toString -> r(1).asInstanceOf[Number].longValue).toMap
      assert(metrics("files_compacted") >= 2, metrics.toString)
      st.execute("VACUUM psql.tpcds.conn_dml RETAIN 1 VERSIONS")
      val an = drain(st.executeQuery(
        "ANALYZE TABLE psql.tpcds.conn_dml COMPUTE STATISTICS FOR ALL COLUMNS"))
        .map(r => r(0).toString -> r(1).asInstanceOf[Number].longValue).toMap
      assert(an("rows") == 5L && an("columns_analyzed") == 2L, an.toString)
      val after = drain(st.executeQuery(
        "SELECT k, v FROM psql.tpcds.conn_dml ORDER BY k"))
        .map(r => (r(0).asInstanceOf[Number].longValue, r(1).toString))
      assert(after == rows, after.toString)
    } finally conn.close()
  }
}
