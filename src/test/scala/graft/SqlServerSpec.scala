package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

/** Client/server statement-protocol gates (the reference's
  * `POST /v1/statement` + `nextUri` surface, served as HiveServer2):
  * a REAL network client (Hive JDBC over a localhost socket) opens a
  * session, runs statements, and drains results in fetch-size pages;
  * results must equal direct in-process execution, multiple
  * statements must share one session, concurrent clients must not
  * interfere, and the graft federation must be visible over the
  * wire. */
class SqlServerSpec extends SparkSpec {

  private val port = 10123

  private lazy val url: String = {
    // a graft-catalog-visible table + a temp view for the wire clients
    Tables.nation(spark, sf1).createOrReplaceTempView("nation_srv")
    graft.sources.GraftSqlServer.start(spark, port)
  }

  private def connect(): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // the server needs a beat to bind; retry briefly
    var last: Throwable = null
    var conn: java.sql.Connection = null
    var attempts = 0
    while (conn == null && attempts < 30) {
      attempts += 1
      try conn = DriverManager.getConnection(url, "graft", "")
      catch { case e: Throwable => last = e; Thread.sleep(500) }
    }
    if (conn == null) throw last
    // each session OPEN flips spark.sql.datetime.java8API.enabled on
    // the shared single-session state (HiveThriftServer2's session
    // manager); restore it so later suites in this JVM keep seeing
    // java.sql.Timestamp from Row.getTimestamp. The wire serialization
    // itself handles both representations.
    spark.conf.set("spark.sql.datetime.java8API.enabled", "false")
    conn
  }

  test("a wire client's statement result equals direct execution") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT n_regionkey, COUNT(*) AS n FROM nation_srv " +
          "GROUP BY n_regionkey ORDER BY n_regionkey")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSeq
      val direct = Tables.nation(spark, sf1)
        .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        .toSeq
      assert(got == direct)
    } finally conn.close()
  }

  test("results drain in fetch-size pages (the nextUri loop), completely") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      // page size far below the row count: the client must issue
      // multiple FetchResults round-trips to drain the cursor
      st.setFetchSize(7)
      val rs = st.executeQuery(
        "SELECT n_nationkey FROM nation_srv ORDER BY n_nationkey")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getLong(1)).toSeq
      val direct = Tables.nation(spark, sf1)
        .orderBy(col("n_nationkey"))
        .collect().map(_.getAs[Number](0).longValue).toSeq
      assert(got == direct, "paged fetch lost or reordered rows")
    } finally conn.close()
  }

  test("one session runs many statements; the federation is visible over the wire") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      // statement 1: metadata surface
      val catalogs = st.executeQuery("SHOW NAMESPACES IN psql")
      assert(Iterator.continually(catalogs).takeWhile(_.next())
        .map(_.getString(1)).nonEmpty)
      // statement 2: a federated-catalog read on the SAME session
      // (orders lives in the mongodb catalog per the loader placement);
      // pin the root — an earlier spec in the shared session may have
      // pointed it at a scratch dir
      spark.conf.set("spark.sql.graft.root", sf1)
      val rs = st.executeQuery(
        "SELECT COUNT(*) FROM mongodb.tpcds.orders")
      assert(rs.next() && rs.getLong(1) ==
        spark.sql("SELECT COUNT(*) FROM mongodb.tpcds.orders").head.getLong(0))
    } finally conn.close()
  }

  test("the serving session streams results incrementally (static conf pinned)") {
    url // force server start
    // a static-conf regression here would silently re-materialize every
    // wire result driver-side — the exact failure PagedResultsSpec's
    // toLocalIterator argument exists to prevent. Pin BOTH halves of
    // the posture: incremental collection and shared single-session.
    assert(spark.conf.get("spark.sql.thriftServer.incrementalCollect") == "true",
      "thrift server would collect() full results on the driver")
    assert(spark.conf.get("spark.sql.hive.thriftServer.singleSession") == "true",
      "wire clients would not see the graft session's catalogs/views")
  }

  test("a long-running statement can be cancelled and the session survives") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      // a statement heavy enough to outlive the cancel round-trip:
      // ~20B hash evaluations (minutes at local[32] if left alone).
      // The summand is BOUNDED (% 1001): summing raw 64-bit hashes is
      // a random walk that ANSI-overflows within the first few rows,
      // making the statement fail fast instead of running long — a
      // latent race this gate lost under full-suite load.
      val slow = "SELECT sum(xxhash64(concat(cast(id AS string), 'x')) % 1001) " +
        "FROM range(20000000000)"
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val runner = new Thread(() =>
        try { st.executeQuery(slow); () }
        catch { case t: Throwable => failure.set(t) })
      runner.start()
      // wait for the statement's Spark job to actually start — tracked
      // as a DELTA over whatever jobs other suites' stragglers hold
      // active, so a full-suite run cannot flake this gate
      val tracker = spark.sparkContext.statusTracker
      val preexisting = tracker.getActiveJobIds().toSet
      def newJobs() = tracker.getActiveJobIds().toSet -- preexisting
      var waited = 0
      while (newJobs().isEmpty && waited < 20000 && failure.get == null) {
        Thread.sleep(100); waited += 100
      }
      assert(failure.get == null,
        s"slow statement failed before cancel: ${failure.get}")
      // normally the job id shows within the wait; under a full-suite
      // listener-bus backlog the jobStart event can be DROPPED and the
      // statusTracker never lists it — a runner still blocked inside
      // executeQuery after the wait is itself proof the statement is
      // mid-flight, so the cancel gate proceeds either way
      assert(runner.isAlive, "slow statement finished before cancel()")
      // JDBC cancel from another thread → HiveServer2 operation cancel
      // → Spark job-group kill
      st.cancel()
      runner.join(60000)
      assert(!runner.isAlive, "executeQuery did not return after cancel()")
      assert(failure.get() != null, "cancelled statement reported success")
      // no orphaned jobs: the job group was killed, not abandoned
      waited = 0
      while (newJobs().nonEmpty && waited < 30000) {
        Thread.sleep(100); waited += 100
      }
      assert(newJobs().isEmpty,
        s"orphaned jobs after cancel: ${newJobs().mkString(",")}")
      // the SESSION survives the cancelled statement: a fresh statement
      // on the same connection runs normally
      val rs = conn.createStatement().executeQuery(
        "SELECT COUNT(*) FROM nation_srv")
      assert(rs.next() && rs.getLong(1) == Tables.nation(spark, sf1).count())
    } finally conn.close()
  }

  test("concurrent wire clients do not interfere") {
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val threads = (0 until 3).map { i =>
      new Thread(() => {
        val c = connect()
        try {
          val rs = c.createStatement().executeQuery(
            s"SELECT COUNT(*) FROM nation_srv WHERE n_nationkey % 3 = $i")
          rs.next(); results.put(i, rs.getLong(1))
        } finally c.close()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (0 until 3).foreach { i =>
      val direct = Tables.nation(spark, sf1)
        .filter(col("n_nationkey") % 3 === i).count()
      assert(results.get(i) == direct, s"client $i diverged")
    }
  }

  test("all four DML verbs run as wire statements against a versioned table") {
    // the reference's ONLY interface is SQL text over the wire
    // (loader.py:25-39) — so INSERT/MERGE/UPDATE/DELETE must all work
    // as statements a remote client issues, end to end: Thrift socket →
    // parser → GraftDmlStatements routing → copy-on-write commit
    val scratch = tempDir("graft_wire_dml").toPath
    spark.conf.set("spark.sql.graft.root", scratch.toString)
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.execute("DROP TABLE IF EXISTS psql.tpcds.wire_dml")
      st.execute("CREATE TABLE psql.tpcds.wire_dml " +
        "TBLPROPERTIES('versioned'='true') AS " +
        "SELECT id AS k, CONCAT('v', CAST(id AS STRING)) AS v FROM RANGE(4)")
      st.execute("INSERT INTO psql.tpcds.wire_dml VALUES (9, 'ins')")
      st.execute("UPDATE psql.tpcds.wire_dml SET v = v || '!' WHERE k = 1")
      st.execute("CREATE OR REPLACE TEMPORARY VIEW wire_src AS " +
        "SELECT 2 AS k, 'merged' AS v UNION ALL SELECT 100, 'new'")
      st.execute("""MERGE INTO psql.tpcds.wire_dml t USING wire_src s
                   |ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      st.execute("DELETE FROM psql.tpcds.wire_dml WHERE k = 3")
      val rs = st.executeQuery(
        "SELECT k, v FROM psql.tpcds.wire_dml ORDER BY k")
      val rows = scala.collection.mutable.ListBuffer[(Long, String)]()
      while (rs.next()) rows += ((rs.getLong(1), rs.getString(2)))
      assert(rows.toList == List(0L -> "v0", 1L -> "v1!", 2L -> "merged",
        9L -> "ins", 100L -> "new"), rows.toString)
      // the pre-DML snapshots remain time-travelable over the wire
      val rs1 = st.executeQuery(
        "SELECT COUNT(*) FROM psql.tpcds.wire_dml VERSION AS OF 1")
      rs1.next()
      assert(rs1.getLong(1) == 4)
      // the MAINTENANCE verbs are wire statements too: compaction and
      // retention reachable by a remote operator with no Scala API
      val ro = st.executeQuery("OPTIMIZE psql.tpcds.wire_dml")
      val metrics = scala.collection.mutable.Map[String, Long]()
      while (ro.next()) metrics(ro.getString(1)) = ro.getLong(2)
      assert(metrics("files_compacted") >= 2, metrics.toString)
      st.execute("VACUUM psql.tpcds.wire_dml RETAIN 1 VERSIONS")
      val rs2 = st.executeQuery(
        "SELECT k, v FROM psql.tpcds.wire_dml ORDER BY k")
      val after = scala.collection.mutable.ListBuffer[(Long, String)]()
      while (rs2.next()) after += ((rs2.getLong(1), rs2.getString(2)))
      assert(after.toList == List(0L -> "v0", 1L -> "v1!", 2L -> "merged",
        9L -> "ins", 100L -> "new"), after.toString)
    } finally {
      conn.close()
      spark.conf.unset("spark.sql.graft.root")
    }
  }
}
