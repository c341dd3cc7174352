package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.functions._

import graft.sources.GraftStatementServer

/** The reference's EXACT client face over HTTP: `POST /v1/statement`
  * + `nextUri` paging (reference: data-loader/loader.py:25-62,
  * README.md:92-98). The test client IS loader.py's `execute` /
  * `query_iter` loop re-expressed in Scala: post the SQL body with
  * `X-Trino-User`, follow `nextUri` until it disappears, concatenate
  * `data` pages, fail on `error`. */
class StatementServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private lazy val base: String = GraftStatementServer.start(spark)

  private def http(method: String, url: String, body: Option[String],
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = if (in == null) "" else
      new String(in.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  /** One request over the JDK's kept-alive connection cache, the way
    * loader.py's `requests.Session` pages: the body is read to the end
    * and the stream closed, never `disconnect()`ed (which would hide a
    * per-response stall behind a fresh connection). Returns the body
    * and the request's wall time in ms. */
  private def keptAlive(method: String, url: String,
      body: Option[String]): (String, Double) = {
    val t0 = System.nanoTime()
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("X-Trino-User", "spec")
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    assert(conn.getResponseCode == 200, s"$method $url")
    val in = conn.getInputStream
    val out = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** loader.py's query_iter: post, follow nextUri, collect data. */
  private def runSql(sql: String,
      headers: Map[String, String] = Map("X-Trino-User" -> "spec"))
      : (Seq[String], Seq[Seq[JsonNode]]) = {
    val (code, first) = http("POST", s"$base/v1/statement", Some(sql), headers)
    assert(code == 200, s"POST: $code $first")
    var j = mapper.readTree(first)
    val data = Seq.newBuilder[Seq[JsonNode]]
    var cols: Seq[String] = Seq.empty
    var guard = 0
    while (j.has("nextUri")) {
      guard += 1; assert(guard < 10000, "nextUri never drained")
      if (j.has("error"))
        throw new RuntimeException(j.get("error").get("message").asText)
      val (c2, page) = http("GET", j.get("nextUri").asText, None)
      assert(c2 == 200, s"GET: $c2 $page")
      j = mapper.readTree(page)
      if (j.has("columns"))
        cols = j.get("columns").elements().asScala
          .map(_.get("name").asText).toSeq
      if (j.has("data"))
        j.get("data").elements().asScala.foreach(row =>
          data += row.elements().asScala.toSeq)
    }
    if (j.has("error"))
      throw new RuntimeException(j.get("error").get("message").asText)
    assert(j.get("stats").get("state").asText == "FINISHED")
    (cols, data.result())
  }

  test("POST /v1/statement + nextUri paging equals direct execution") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val sql = """SELECT n_regionkey, COUNT(*) AS n
                |FROM psql.tpcds.nation GROUP BY n_regionkey
                |ORDER BY n_regionkey""".stripMargin
    val (cols, data) = runSql(sql)
    assert(cols == Seq("n_regionkey", "n"))
    val wire = data.map(r => (r(0).asLong, r(1).asLong))
    val local = spark.sql(sql).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSeq
    assert(wire == local && wire.nonEmpty, s"wire $wire != local $local")
  }

  test("columns carry Trino type names; multi-page results drain") {
    spark.conf.set("spark.sql.graft.root", sf2)
    // 15000 orders → 15 pages of 1000: the nextUri loop does real work
    val (code, first) = http("POST", s"$base/v1/statement",
      Some("SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM mongodb.tpcds.orders"),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    val j = mapper.readTree(first)
    val types = j.get("columns").elements().asScala
      .map(c => c.get("name").asText -> c.get("type").asText).toMap
    assert(types("o_orderkey") == "bigint", types.toString)
    assert(types("o_totalprice") == "double", types.toString)
    assert(types("o_orderstatus") == "varchar", types.toString)
    var pages = 0
    var rows = 0L
    var node = j
    while (node.has("nextUri")) {
      val (_, page) = http("GET", node.get("nextUri").asText, None)
      node = mapper.readTree(page)
      if (node.has("data")) {
        pages += 1
        rows += node.get("data").size()
      }
    }
    assert(rows == 15000, s"drained $rows rows")
    assert(pages >= 15, s"only $pages data pages — paging not bounded")
  }

  test("kept-alive nextUri pages answer without a delayed-ACK stall") {
    spark.conf.set("spark.sql.graft.root", sf2)
    // the 15-page statement above, paged over one kept-alive
    // connection: with Nagle on, every page's body waited ~40 ms for
    // the client's delayed ACK of the headers
    val (first, _) = keptAlive("POST", s"$base/v1/statement",
      Some("SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM mongodb.tpcds.orders"))
    var node = mapper.readTree(first)
    val ms = Seq.newBuilder[Double]
    var rows = 0L
    while (node.has("nextUri")) {
      val (page, t) = keptAlive("GET", node.get("nextUri").asText, None)
      ms += t
      node = mapper.readTree(page)
      if (node.has("data")) rows += node.get("data").size()
    }
    assert(rows == 15000, s"drained $rows rows")
    val sorted = ms.result().sorted
    val median = sorted(sorted.size / 2)
    assert(median < 20.0, f"median GET nextUri $median%.1f ms over " +
      s"${sorted.size} pages: ${sorted.map(t => f"$t%.1f").mkString(",")}")
  }

  test("X-Trino-Catalog/Schema headers set the statement's defaults") {
    spark.conf.set("spark.sql.graft.root", sf1)
    // unqualified table name resolves via the headers, like the
    // loader's session properties (loader.py:15-23)
    val (_, data) = runSql("SELECT COUNT(*) AS n FROM nation",
      Map("X-Trino-User" -> "spec", "X-Trino-Catalog" -> "psql",
        "X-Trino-Schema" -> "tpcds"))
    assert(data.head.head.asLong == 25L)
    // the suite session's current catalog was restored
    assert(spark.sessionState.catalogManager.currentCatalog.name() ==
      "spark_catalog")
  }

  test("failures return the error envelope; missing user is rejected") {
    val (code, body) = http("POST", s"$base/v1/statement",
      Some("SELECT * FROM psql.tpcds.no_such_table"),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, body) // protocol-level OK, query-level FAILED
    val j = mapper.readTree(body)
    assert(j.get("stats").get("state").asText == "FAILED")
    assert(j.get("error").get("message").asText.toLowerCase
      .contains("no_such_table"), body)
    assert(!j.has("nextUri"))
    // the coordinator requires X-Trino-User
    val (noUser, _) = http("POST", s"$base/v1/statement",
      Some("SELECT 1"), Map.empty)
    assert(noUser == 400)
  }

  test("stale nextUri tokens answer 410 Gone; DELETE cancels") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val (_, first) = http("POST", s"$base/v1/statement",
      Some("SELECT n_nationkey FROM psql.tpcds.nation"),
      Map("X-Trino-User" -> "spec"))
    val next = mapper.readTree(first).get("nextUri").asText
    val (ok, _) = http("GET", next, None)
    assert(ok == 200)
    // replaying the consumed token is 410
    val (gone, _) = http("GET", next, None)
    assert(gone == 410)
    // cancel: DELETE frees the cursor, later fetches are 410
    val (_, f2) = http("POST", s"$base/v1/statement",
      Some("SELECT n_nationkey FROM psql.tpcds.nation"),
      Map("X-Trino-User" -> "spec"))
    val next2 = mapper.readTree(f2).get("nextUri").asText
    val (del, _) = http("DELETE", next2, None)
    assert(del == 204)
    val (after, _) = http("GET", next2, None)
    assert(after == 410)
  }

  test("concurrent clients page independent statements without interference") {
    spark.conf.set("spark.sql.graft.root", sf2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = (0 until 3).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            // each client drains its own multi-page cursor (15 pages)
            val (_, data) = runSql(
              s"SELECT o_orderkey FROM mongodb.tpcds.orders WHERE o_orderkey % 3 = $i")
            data.map(_.head.asLong).sum
          }
        })
      }
      val sums = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val expect = (0 until 3).map { i =>
        Tables.orders(spark, sf2)
          .filter(col("o_orderkey") % 3 === i)
          .agg(sum(col("o_orderkey"))).head.getLong(0)
      }
      assert(sums == expect, s"wire $sums != local $expect")
    } finally pool.shutdownNow()
  }

  /** Per-statement session isolation (r15 verdict #4): analysis under
    * the `X-Trino-*` headers runs on a session CLONE, so statements
    * submitted simultaneously under DIFFERENT default catalogs both
    * resolve correctly — no global analysis lock, no header bleed. */
  test("concurrent submits under different X-Trino-Catalog headers both resolve") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val docCount = Tables.documents(spark, sf1).count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            if (i % 2 == 0)
              // unqualified `nation` only resolves under psql.tpcds
              runSql("SELECT COUNT(*) AS n FROM nation",
                Map("X-Trino-User" -> "spec", "X-Trino-Catalog" -> "psql",
                  "X-Trino-Schema" -> "tpcds"))._2.head.head.asLong
            else
              // unqualified `documents` only resolves under elastic.default
              runSql("SELECT COUNT(*) AS n FROM documents",
                Map("X-Trino-User" -> "spec", "X-Trino-Catalog" -> "elastic",
                  "X-Trino-Schema" -> "default"))._2.head.head.asLong
        })
      }
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      (0 until 8).foreach { i =>
        val expect = if (i % 2 == 0) 25L else docCount
        assert(got(i) == expect, s"client $i got ${got(i)}, expected $expect")
      }
      // the shared session's defaults were never touched
      assert(spark.sessionState.catalogManager.currentCatalog.name() ==
        "spark_catalog")
    } finally pool.shutdownNow()
  }

  /** The stats envelope's progress fields (r15 verdict #5): each page
    * carries processedRows/processedBytes (live input-side scan
    * accumulators), elapsedTimeMillis, and queuedTimeMillis — the
    * fields the reference's captured query.json records. Monotone
    * across a multi-page drain. */
  test("stats envelope: processedRows/bytes/elapsed are monotone across pages") {
    spark.conf.set("spark.sql.graft.root", sf2)
    val (code, first) = http("POST", s"$base/v1/statement",
      Some("SELECT o_orderkey FROM mongodb.tpcds.orders"),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    var node = mapper.readTree(first)
    var lastRows = -1L
    var lastBytes = -1L
    var lastElapsed = -1L
    var queued = -1L
    var pages = 0
    def stat(n: JsonNode, f: String): Long = n.get("stats").get(f).asLong
    // the Analysis/Planning split (reference time.txt; verdict r17 #5):
    // fixed at submit, present and unchanged on every page
    val analysis0 = stat(node, "analysisTimeMillis")
    val planning0 = stat(node, "planningTimeMillis")
    assert(analysis0 >= 0L && planning0 >= 0L,
      s"analysis=$analysis0 planning=$planning0")
    while (node.has("nextUri")) {
      val (_, page) = http("GET", node.get("nextUri").asText, None)
      node = mapper.readTree(page)
      pages += 1
      val rows = stat(node, "processedRows")
      val bytes = stat(node, "processedBytes")
      val elapsed = stat(node, "elapsedTimeMillis")
      assert(rows >= lastRows, s"processedRows regressed: $rows < $lastRows")
      assert(bytes >= lastBytes, s"processedBytes regressed: $bytes < $lastBytes")
      assert(elapsed >= lastElapsed, s"elapsed regressed: $elapsed < $lastElapsed")
      assert(stat(node, "analysisTimeMillis") == analysis0 &&
        stat(node, "planningTimeMillis") == planning0,
        "analysis/planning split drifted across pages")
      lastRows = rows; lastBytes = bytes; lastElapsed = elapsed
      queued = stat(node, "queuedTimeMillis")
    }
    assert(pages >= 15, s"only $pages pages")
    // by FINISHED the scans have processed the whole collection
    assert(lastRows >= 15000L, s"final processedRows $lastRows")
    assert(lastBytes > 0L && queued >= 0L && lastElapsed >= 0L)
  }

  /** Verdict r17 #1 (the loud guard): a `file:` spool dir under a
    * non-local master is executor-local disk the driver cannot read —
    * a statement that needs a spool file there must fail with guidance
    * rather than serve an empty FINISHED result. Pure-function gate over the
    * (master, scheme, declared-shared) decision table. */
  test("spoolPathUsable refuses executor-local file: dirs on real clusters") {
    import GraftStatementServer.spoolPathUsable
    // same-box masters: every JVM shares this machine's filesystem
    assert(spoolPathUsable("local[32]", "file", declaredShared = false))
    assert(spoolPathUsable("local-cluster[2,4,2048]", "file",
      declaredShared = false))
    // shared storage schemes are readable from anywhere
    for (m <- Seq("spark://coord:7077", "yarn", "k8s://https://api:6443"))
      for (s <- Seq("hdfs", "s3a", "graftfs"))
        assert(spoolPathUsable(m, s, declaredShared = false), s"$m/$s")
    // the silent-wrongness case: file: + real cluster + no declaration
    for (m <- Seq("spark://coord:7077", "yarn", "k8s://https://api:6443")) {
      assert(!spoolPathUsable(m, "file", declaredShared = false), m)
      // an operator-declared NFS mount is the one legitimate exception
      assert(spoolPathUsable(m, "file", declaredShared = true), m)
    }
  }

  /** Verdict r17 #1 (the read path): the spool must resolve BOTH write
    * and read through the Hadoop FileSystem API, so a non-`file:`
    * scheme — here a registered test scheme backed by
    * RawLocalFileSystem — round-trips end to end. The old java.io read
    * path could not open `graftfs:` part files at all. */
  test("spool write+read round-trip through a non-file: Hadoop scheme") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val hconf = spark.sparkContext.hadoopConfiguration
    val scratch = tempDir("graft_fs_spool").toPath
    hconf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    spark.conf.set(graft.sources.GraftWireConf.StatementSpoolDirKey,
      s"graftfs:$scratch")
    try {
      val sql = "SELECT l_orderkey FROM psql.tpcds.lineitem " +
        "ORDER BY l_orderkey"
      val (code, first) = http("POST", s"$base/v1/statement", Some(sql),
        Map("X-Trino-User" -> "spec"))
      assert(code == 200, first)
      var j = mapper.readTree(first)
      val id = j.get("id").asText
      val dir = new java.io.File(scratch.toFile,
        GraftStatementServer.spoolDirName(id))
      assert(dir.isDirectory, s"spool did not land under graftfs: $dir")
      assert(dir.listFiles().exists(_.getName.startsWith("part-")), dir)
      val rows = Seq.newBuilder[Long]
      while (j.has("nextUri")) {
        val (_, page) = http("GET", j.get("nextUri").asText, None)
        j = mapper.readTree(page)
        if (j.has("data"))
          j.get("data").elements().asScala.foreach(r => rows += r.get(0).asLong)
      }
      assert(j.get("stats").get("state").asText == "FINISHED")
      val got = rows.result()
      val direct = spark.sql(sql).collect().map(_.getLong(0)).toSeq
      assert(got == direct && got.nonEmpty, "graftfs drain != direct")
      assert(!dir.exists, s"graftfs spool $dir leaked after the drain")
    } finally {
      spark.conf.unset(graft.sources.GraftWireConf.StatementSpoolDirKey)
      hconf.unset("fs.graftfs.impl")
      graft.LocalFiles.rmTree(scratch.toFile)
    }
  }

  // The name keeps its original id; the pipelined pull it compared
  // with is gone, and the drain is now checked against a direct collect.
  test("spool lifecycle: files back the cursor, are released on drain, equal the pipelined pull") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val sql =
      "SELECT l_orderkey FROM psql.tpcds.lineitem ORDER BY l_orderkey"
    val (code, first) = http("POST", s"$base/v1/statement", Some(sql),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    var j = mapper.readTree(first)
    val id = j.get("id").asText
    // dir names are process-unique (nonce + id) so concurrent JVMs
    // sharing the default tmpdir can never collide (ADVICE r17)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      GraftStatementServer.spoolDirName(id))
    // a partition past the inline limit: part files back the cursor
    assert(dir.isDirectory,
      s"expected spool dir $dir while the cursor is open; POST body: $first")
    val rows = Seq.newBuilder[Long]
    while (j.has("nextUri")) {
      val (_, page) = http("GET", j.get("nextUri").asText, None)
      j = mapper.readTree(page)
      if (j.has("data"))
        j.get("data").elements().asScala.foreach(r =>
          rows += r.get(0).asLong)
    }
    assert(j.get("stats").get("state").asText == "FINISHED")
    // drain end retired the cursor AND released the spool
    assert(!dir.exists, s"spool dir $dir leaked after the drain")
    val spooled = rows.result()
    assert(spooled == spooled.sorted && spooled.nonEmpty)
    val direct = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(spooled == direct, "spooled drain != direct collect")
  }

  /** Spool files are gzip-compressed: on a real cluster the spool is
    * RESULT-sized I/O against shared storage, where text-JSON pages
    * compress 5-10× (Trino's spooling protocol makes the same trade).
    * The drain must equal direct execution row for row. */
  test("gzip-compressed spool drains identical rows; parts carry the extension") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val sql = "SELECT l_orderkey, l_partkey FROM psql.tpcds.lineitem " +
      "ORDER BY l_orderkey, l_partkey, l_suppkey"
    val direct = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (code, first) = http("POST", s"$base/v1/statement", Some(sql),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    var j = mapper.readTree(first)
    val id = j.get("id").asText
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      GraftStatementServer.spoolDirName(id))
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")),
      s"expected .gz parts, got ${parts.map(_.getName).mkString(",")}")
    val rows = Seq.newBuilder[(Long, Long)]
    while (j.has("nextUri")) {
      val (_, page) = http("GET", j.get("nextUri").asText, None)
      j = mapper.readTree(page)
      if (j.has("data"))
        j.get("data").elements().asScala.foreach(r =>
          rows += ((r.get(0).asLong, r.get(1).asLong)))
    }
    assert(j.get("stats").get("state").asText == "FINISHED")
    assert(rows.result() == direct && direct.nonEmpty,
      "gzip spool drain != direct collect")
    assert(!dir.exists, s"gzip spool dir $dir leaked")
  }

  /** Drain one statement page by page; returns its id and the first
    * column of every row. `midDrain` runs after the POST, before the
    * first page. */
  private def drainLongs(sql: String)(midDrain: String => Unit): Seq[Long] = {
    val (code, first) = http("POST", s"$base/v1/statement", Some(sql),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    var j = mapper.readTree(first)
    midDrain(j.get("id").asText)
    val rows = Seq.newBuilder[Long]
    while (j.has("nextUri")) {
      val (_, page) = http("GET", j.get("nextUri").asText, None)
      j = mapper.readTree(page)
      if (j.has("error")) fail(j.get("error").get("message").asText)
      if (j.has("data"))
        j.get("data").elements().asScala.foreach(r => rows += r.get(0).asLong)
    }
    assert(j.get("stats").get("state").asText == "FINISHED")
    rows.result()
  }

  test("a small result comes back inline: no spool entry, rows equal direct") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val scratch = tempDir("graft_inline").toPath
    spark.conf.set(graft.sources.GraftWireConf.StatementSpoolDirKey, scratch.toString)
    try {
      val sql = """SELECT n_nationkey FROM psql.tpcds.nation
                  |WHERE n_regionkey < 3 ORDER BY n_nationkey""".stripMargin
      def entries() = scratch.toFile.list().toSeq
      val wire = drainLongs(sql)(_ =>
        assert(entries().isEmpty, s"spool entries after the POST: ${entries()}"))
      assert(entries().isEmpty, s"spool entries after the drain: ${entries()}")
      val direct = spark.sql(sql).collect().map(_.getAs[Number](0).longValue).toSeq
      assert(wire == direct && wire.nonEmpty, s"wire $wire != direct $direct")
    } finally {
      spark.conf.unset(graft.sources.GraftWireConf.StatementSpoolDirKey)
      scratch.toFile.delete()
    }
  }

  /** A skewed ORDER BY over four uncoalesced range partitions: the one
    * holding the 5,000 zero keys is past the inline limit and spools,
    * the ones holding the other 1,000 keys come back inline. The drain
    * must still follow partition order. */
  test("an ORDER BY result of inline and spooled partitions drains in order") {
    val sql = "SELECT CASE WHEN id < 5000 THEN 0 ELSE id END AS k " +
      "FROM RANGE(6000) ORDER BY k"
    val confs = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    var spooledLines = 0
    val wire = try drainLongs(sql) { id =>
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        GraftStatementServer.spoolDirName(id))
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      spooledLines = parts.map { f =>
        val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).count(_ == '\n')
        finally in.close()
      }.sum
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val direct = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(wire == direct && wire.size == 6000, "mixed drain != direct collect")
    assert(spooledLines >= 5000 && spooledLines < 6000,
      s"$spooledLines of 6000 rows spooled: expected both inline and spooled partitions")
  }

  test("a stray part file planted in a statement's spool dir is never served") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val sql = "SELECT l_orderkey FROM psql.tpcds.lineitem ORDER BY l_orderkey"
    val wire = drainLongs(sql) { id =>
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        GraftStatementServer.spoolDirName(id))
      assert(dir.isDirectory, s"expected spool dir $dir")
      for (name <- Seq("part-00000-7.gz", "part-99999-0.gz")) {
        val out = new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(new java.io.File(dir, name)))
        try out.write("[-1]\n".getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
    }
    val direct = spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(!wire.contains(-1L), "a planted part file was served")
    assert(wire == direct && wire.nonEmpty, "drain != direct collect")
  }

  test("a command over the face launches no job") {
    spark.conf.set("spark.sql.graft.root", sf1)
    assert(base.nonEmpty) // start the server outside the counted window
    val jobs = jobsStartedDuring {
      assert(runSql("CREATE OR REPLACE TEMP VIEW stmt_cmd_v AS " +
        "SELECT n_nationkey FROM psql.tpcds.nation")._2.isEmpty)
    }
    assert(jobs == 0, s"$jobs jobs for a command")
  }

  /** q84's ORDER BY over a few grouped rows runs in the result task
    * (`GatherSmallSort`): the map stage and the result job, where a
    * range-partitioned sort also ran a sampling job and a range-exchange
    * stage (4 jobs). */
  test("q84 over the face launches 2 jobs and pages the rows of a direct collect") {
    spark.conf.set("spark.sql.graft.root", sf1)
    assert(base.nonEmpty)
    val sql = """SELECT event_type, COUNT(*) AS n,
                |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
                |FROM mongodb.tpcds.events
                |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
                |GROUP BY event_type ORDER BY event_type""".stripMargin
    runSql(sql) // the first read of the collection loads it into the wire server
    var data = Seq.empty[Seq[JsonNode]]
    val jobs = jobsStartedDuring { data = runSql(sql)._2 }
    val excluded = "spark.sql.adaptive.optimizer.excludedRules"
    spark.conf.set(excluded, "graft.plans.GatherSmallSort")
    val ranged = try jobsStartedDuring(runSql(sql)) finally spark.conf.unset(excluded)
    assert(jobs == 2 && ranged == 4, s"q84 over the face: $jobs jobs, $ranged without the rule")
    val wire = data.map(r => (r(0).asText, r(1).asLong, r(2).asDouble))
    val local = spark.sql(sql).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(wire == local && wire.nonEmpty, s"wire $wire != local $local")
  }

  /** ADVICE r17: every early retirement path must CLOSE the currently
    * open spool reader before deleting the dir — else each abandoned
    * cursor leaks a file descriptor (and on non-POSIX filesystems the
    * open file blocks the delete). Observable on Linux via /proc: after
    * DELETE, no fd of this process may still point into the spool dir. */
  test("DELETE mid-drain closes the open spool reader and frees the dir") {
    spark.conf.set("spark.sql.graft.root", sf2)
    val (_, first) = http("POST", s"$base/v1/statement",
      Some("SELECT o_orderkey FROM mongodb.tpcds.orders"),
      Map("X-Trino-User" -> "spec"))
    var j = mapper.readTree(first)
    val id = j.get("id").asText
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      GraftStatementServer.spoolDirName(id))
    // pull ONE page so a part-file reader is open mid-drain
    val (_, page) = http("GET", j.get("nextUri").asText, None)
    j = mapper.readTree(page)
    assert(j.has("nextUri") && dir.isDirectory, page.take(200))
    def openFdsInto(d: java.io.File): Seq[String] = {
      val fdDir = new java.io.File("/proc/self/fd")
      Option(fdDir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        try {
          val t = java.nio.file.Files.readSymbolicLink(f.toPath).toString
          if (t.startsWith(d.getAbsolutePath)) Some(t) else None
        } catch { case _: Exception => None }
      }
    }
    assert(openFdsInto(dir).nonEmpty, "expected an open reader mid-drain")
    val (del, _) = http("DELETE", j.get("nextUri").asText, None)
    assert(del == 204)
    assert(!dir.exists, s"spool dir $dir survived the DELETE")
    assert(openFdsInto(dir).isEmpty,
      "cancel leaked an open fd into the deleted spool dir")
  }

  /** The idle sweep: a statement abandoned mid-drain and idle past
    * the window is retired by the next POST, which releases its spool
    * dir and leaves its nextUri answering 410 Gone. */
  test("an abandoned statement is retired by the idle sweep at the next POST") {
    spark.conf.set("spark.sql.graft.root", sf2)
    val (_, first) = http("POST", s"$base/v1/statement",
      Some("SELECT o_orderkey FROM mongodb.tpcds.orders"),
      Map("X-Trino-User" -> "spec"))
    var j = mapper.readTree(first)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      GraftStatementServer.spoolDirName(j.get("id").asText))
    val (_, page) = http("GET", j.get("nextUri").asText, None)
    j = mapper.readTree(page)
    assert(j.has("nextUri") && dir.isDirectory, page.take(200))
    GraftStatementServer.queries.ageForTest(700L * 1000 * 1000 * 1000)
    assert(dir.isDirectory, "aging alone must not retire the statement")
    assert(runSql("SELECT 1")._2.map(_.head.asInt) == Seq(1))
    assert(!dir.exists, s"spool dir $dir survived the idle sweep")
    val (code, _) = http("GET", j.get("nextUri").asText, None)
    assert(code == 410)
  }

  /** ADVICE r17: a spool JOB failure (runtime error inside the save)
    * must delete its partial dir before the failedJson response — the
    * orphan sweep only runs at start() and is 1 h age-guarded, so a
    * long-lived server would otherwise accumulate failed-statement
    * spools for its lifetime. The one task spools 5,000 rows, past the
    * inline limit, before it fails. */
  test("a failing spooled statement leaves no partial spool dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spoolDirs() = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-spool-")).map(_.getName).toSet
    val before = spoolDirs()
    val (code, body) = http("POST", s"$base/v1/statement",
      Some("SELECT assert_true(id < 5000, 'boom') AS a FROM RANGE(0, 10000, 1, 1)"),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, body)
    val j = mapper.readTree(body)
    assert(j.get("stats").get("state").asText == "FAILED", body.take(300))
    assert(spoolDirs() == before,
      s"failed statement stranded a spool dir: ${spoolDirs() -- before}")
  }

  test("three-connector runtime-filtered statement (q86 shape) pages through the face") {
    import graft.sources.GraftJdbcSource
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      // the factored q86 setup registers derbyrt/mongodb/elastic and
      // returns the statement text; the per-statement session clone
      // inherits those confs at POST time
      val sql = operators.Relational.jdbcRuntimeFilterStatement(spark, sf2)
      val local = spark.sql(sql).collect().map(_.getLong(0)).toSeq
      val logName = operators.Relational.jdbcRuntimeFilterLogName(sf2)
      val before = GraftJdbcSource.rowCount(logName)
      val (cols, data) = runSql(sql)
      assert(cols == Seq("c_custkey"))
      val wire = data.map(_.head.asLong).toSeq
      assert(wire.nonEmpty && wire == local, s"wire $wire != local $local")
      // the dynamic filter survived execution through the face:
      // the wire drain's JDBC scan carried the rendered IN-set and the
      // store returned the dim-filtered subset, not its F-status span
      val crossed = GraftJdbcSource.rowCount(logName) - before
      val fullF = spark.sql(
        s"SELECT COUNT(*) FROM parquet.`$sf2/orders.parquet` " +
          "WHERE o_orderstatus = 'F'").head().getLong(0)
      val rendered = GraftJdbcSource.lastQuery(logName).get
      assert(rendered.contains("\"O_CUSTKEY\" IN ("), rendered)
      assert(crossed > 0 && crossed < fullF,
        s"runtime filter did not reduce wire rows: $crossed of $fullF")
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      // jdbcRuntimeFilterStatement mutates the SHARED suite session —
      // restore it so later tests can't inherit the derbyrt catalog or
      // a stale root (the JdbcSourceSpec cross-contamination lesson)
      spark.conf.unset("spark.sql.graft.root")
      Seq("", ".url", ".partitionColumn", ".numPartitions").foreach(s =>
        spark.conf.unset(s"spark.sql.catalog.derbyrt$s"))
    }
  }

  test("DML runs over the statement face (the loader's CTAS motion)") {
    val scratch = tempDir("graft_stmt").toPath
    spark.conf.set("spark.sql.graft.root", scratch.toString)
    try {
      runSql("CREATE TABLE psql.tpcds.stmt_ctas AS " +
        "SELECT id AS k, CAST(id AS STRING) AS v FROM RANGE(7)")
      val (_, data) = runSql(
        "SELECT COUNT(*) AS n FROM psql.tpcds.stmt_ctas")
      assert(data.head.head.asLong == 7L)
      runSql("DROP TABLE psql.tpcds.stmt_ctas")
    } finally {
      spark.conf.set("spark.sql.graft.root", sf1)
      graft.LocalFiles.rmTree(scratch.toFile)
    }
  }

  /** Verdict r18 #7: the reference's captured query.json records
    * peakTotalMemoryReservation per query (601.6 MB, q004/workers-5);
    * the face serves the Spark analogue — the sum of the executed
    * plan's per-operator `peakMemory` SQL metrics. Present on every
    * page; non-zero once a shuffle-bearing statement's aggregation has
    * executed. */
  test("stats envelope: peakMemoryBytes non-zero on a shuffle-bearing statement") {
    spark.conf.set("spark.sql.graft.root", sf2)
    val (code, first) = http("POST", s"$base/v1/statement",
      Some("SELECT o_orderstatus, COUNT(*) AS n FROM mongodb.tpcds.orders " +
        "GROUP BY o_orderstatus"),
      Map("X-Trino-User" -> "spec"))
    assert(code == 200, first)
    var j = mapper.readTree(first)
    assert(j.get("stats").has("peakMemoryBytes"), first.take(300))
    var peak = -1L
    var guard = 0
    while (j.has("nextUri")) {
      guard += 1; assert(guard < 10000, "nextUri never drained")
      val (_, page) = http("GET", j.get("nextUri").asText, None)
      j = mapper.readTree(page)
      peak = j.get("stats").get("peakMemoryBytes").asLong
    }
    assert(j.get("stats").get("state").asText == "FINISHED")
    assert(peak > 0L, s"peakMemoryBytes $peak on an aggregation statement")
  }

  /** ADVICE r18: DML/DDL executes eagerly inside analysis (Spark's
    * CommandResult), so a measured "analysis" span would really be the
    * whole execution — commands report the Analysis/Planning split as
    * 0/0 to keep the fields' reference meaning; elapsedTimeMillis
    * still carries the command's true cost. */
  test("command statements report the analysis/planning split as zero") {
    val scratch = tempDir("graft_stmt0").toPath
    spark.conf.set("spark.sql.graft.root", scratch.toString)
    try {
      val (code, first) = http("POST", s"$base/v1/statement",
        Some("CREATE TABLE psql.tpcds.stmt_split AS SELECT id FROM RANGE(5)"),
        Map("X-Trino-User" -> "spec"))
      assert(code == 200, first)
      var j = mapper.readTree(first)
      assert(j.get("stats").get("analysisTimeMillis").asLong == 0L,
        first.take(300))
      assert(j.get("stats").get("planningTimeMillis").asLong == 0L,
        first.take(300))
      while (j.has("nextUri")) {
        val (_, p) = http("GET", j.get("nextUri").asText, None)
        j = mapper.readTree(p)
      }
      runSql("DROP TABLE psql.tpcds.stmt_split")
    } finally {
      spark.conf.set("spark.sql.graft.root", sf1)
      graft.LocalFiles.rmTree(scratch.toFile)
    }
  }

  /** ADVICE r18: liveness is proven by a marker PUT inside the spool
    * dir (object stores do not support directory setTimes, so the old
    * mtime touch silently never refreshed there) — the orphan sweep
    * keys its age guard off the marker when one is present, the dir
    * mtime otherwise. */
  test("orphan sweep spares an old foreign spool with a fresh liveness marker") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val old = System.currentTimeMillis() - 2 * 3600L * 1000
    def mk(name: String, marker: Boolean): java.io.File = {
      val d = new java.io.File(tmp, name)
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-00000").toPath, "x".getBytes)
      if (marker) java.nio.file.Files.write(
        new java.io.File(d, GraftStatementServer.liveMarker).toPath,
        System.currentTimeMillis().toString.getBytes)
      d.setLastModified(old)
      d
    }
    // foreign nonce (not this process's pid) so the sweep considers both
    val dead = mk("graft-spool-999999-deadbeef-graft_x1", marker = false)
    val live = mk("graft-spool-999999-deadbeef-graft_x2", marker = true)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(); ()
    }
    try {
      GraftStatementServer.start(spark) // start() re-runs the sweep
      assert(!dead.exists, "age-expired foreign spool with no marker survived")
      assert(live.exists, "sweep deleted a spool whose liveness marker was fresh")
    } finally { rmr(dead); rmr(live) }
  }

  /** Review r19: the marker touch uses `createNonRecursive`, so a
    * touch racing retire()'s recursive delete FAILS into maybeTouch's
    * best-effort catch instead of re-creating the just-deleted dir —
    * plain `create()` makes parent dirs, and a resurrected dir holding
    * only the marker would be a zombie this process's own sweep skips
    * forever (it excludes its own nonce). This pins the filesystem
    * semantic the fix relies on, against the same FileSystem type the
    * spool path resolves (a `file:` dir → LocalFileSystem). */
  test("liveness touch cannot resurrect a deleted spool dir") {
    val gone = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir")),
      "graft-spool-999999-deadbeef-graft_resurrect")
    assert(!gone.exists)
    val p = new org.apache.hadoop.fs.Path(
      new java.io.File(gone, GraftStatementServer.liveMarker).toURI)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    intercept[java.io.FileNotFoundException] {
      val out = fs.createNonRecursive(p, true, 4096,
        fs.getDefaultReplication(p), fs.getDefaultBlockSize(p), null)
      out.close()
    }
    assert(!gone.exists, "createNonRecursive resurrected the deleted dir")
  }
}
