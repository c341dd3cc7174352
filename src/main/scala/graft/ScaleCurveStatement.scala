package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Statement-FACE leg of the SCALECURVE (verdict r16 #6): the
  * reference's benchmark path is `POST /v1/statement` + `nextUri`
  * paging (README.md:92-99) — its timings INCLUDE the coordinator
  * face. The repo's curve legs so far measure direct execution; this
  * main drives the HEADLINE FIVE through the real HTTP face on the
  * real standalone scheduler at `local-cluster[N,4,2048]`, N = 1, 2,
  * 4 executor JVMs, and measures the face's overhead against direct
  * execution of the SAME statements on the SAME session.
  *
  * What this isolates: the face cost — per-statement session clone,
  * analysis, spooled result serve (executor-side render + text spool,
  * driver line-stream; GraftStatementServer.serveState), page JSON,
  * HTTP roundtrips. The statements run over temp views of the sf
  * parquet so the measured delta is the face, not a re-measurement of
  * the wire connectors (those have their own curve legs: ScaleCurve
  * q84/s25). The spool write/read runs under every topology, so the
  * leg also proves the spooled serve is process-topology-invariant.
  *
  * Gates per N: wire rows bit-identical across topologies AND equal
  * in count to direct; `stats` envelopes monotone across every page
  * of every drain (processedRows/Bytes/elapsed never regress); both
  * timed drains agree within N before the min is taken.
  *
  * Run: `SPARK_SCALA_VERSION=2.13 SPARK_HOME=/opt/spark
  *       ./run-main.sh graft.ScaleCurveStatement [sfDir]`
  * Prints one JSON line `{"metric":"scale_curve_statement", ...,
  * "workers":{"N":{"q":{"direct":s,"wire":s}}},
  * "max_overhead_sec":...}`; exits nonzero on divergence. */
object ScaleCurveStatement {

  /** The headline five as ANSI SQL over the registered views — the
    * same texts `SparkEntry.oracleSql` pins for the DuckDB oracle. */
  val statements: Seq[(String, String)] = Seq(
    "q01" -> SparkEntry.oracleSql("q01_agg_pushdown_sum"),
    "q02" -> SparkEntry.oracleSql("q02_scan_group_agg"),
    "q03" -> SparkEntry.oracleSql("q03_join_agg_topn"),
    "q04" -> SparkEntry.oracleSql("q04_left_join_case_agg"),
    "q05" -> SparkEntry.oracleSql("q05_except_chain_count"))

  private def get(url: String): String = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val out = new String(conn.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    conn.disconnect()
    out
  }

  private val nextRe = """"nextUri":"([^"]+)"""".r
  private val dataRe = """"data":(\[\[.*?\]\])(?=,"(?:nextUri|stats)")""".r
  private def stat(body: String, f: String): Long =
    (s""""$f":(\\d+)""").r.findFirstMatchIn(body)
      .map(_.group(1).toLong).getOrElse(-1L)

  /** POST + drain; returns (seconds, canonical data rows). Enforces
    * the monotone-stats gate on every page. */
  private def wireRun(base: String, sql: String): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val conn = URI.create(s"$base/v1/statement").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setRequestProperty("X-Trino-User", "scalecurve")
    conn.setDoOutput(true)
    conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
    var body = new String(conn.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    conn.disconnect()
    val rows = Seq.newBuilder[String]
    var lastRows = -1L; var lastBytes = -1L; var lastElapsed = -1L
    var next = nextRe.findFirstMatchIn(body).map(_.group(1))
    while (next.isDefined) {
      body = get(next.get)
      require(!body.contains("\"error\""), body.take(400))
      val (r, by, el) = (stat(body, "processedRows"),
        stat(body, "processedBytes"), stat(body, "elapsedTimeMillis"))
      require(r >= lastRows && by >= lastBytes && el >= lastElapsed,
        s"stats regressed: rows $lastRows->$r bytes $lastBytes->$by " +
          s"elapsed $lastElapsed->$el")
      lastRows = r; lastBytes = by; lastElapsed = el
      dataRe.findFirstMatchIn(body).foreach { m =>
        // individual rows: split top-level "],[" seams
        m.group(1).stripPrefix("[").stripSuffix("]")
          .split("""(?<=\]),(?=\[)""").foreach(rows += _)
      }
      next = nextRe.findFirstMatchIn(body).map(_.group(1))
    }
    ((System.nanoTime() - t0) / 1e9, rows.result().sorted)
  }

  /** Composition gate (verdict r17 #6): executor-side spool render +
    * REAL process topology + the Hadoop-FS read path in ONE motion. A
    * REPARTITION(8) statement is driven through the face under
    * `local-cluster[2,…]` with spooling ON. HARD conditions (throw on
    * violation): the spool dir held multiple part files while the
    * cursor was open, was released after the drain, and the drained
    * wire rows are bit-identical to direct execution. The two-executor
    * task SPREAD is a recorded metric, not a throw: placement across
    * executors is not a Spark scheduling contract (with 2×4 slots one
    * fast executor can legally take all 8 tasks — ADVICE r18, the same
    * flake class as SpoolCheck's retired order assertion). The gate
    * waits for both executor JVMs to register and retries the
    * statement up to 3× so the spread is observed in practice; a
    * 1-executor reading after that is reported as `"executors":1` for
    * the ledger to judge, with every correctness condition still
    * enforced. */
  private def spoolTopologyGate(spark: SparkSession, base: String): String = {
    val sql = "SELECT /*+ REPARTITION(8) */ l_orderkey, l_partkey " +
      "FROM lineitem WHERE l_orderkey % 7 = 0"
    // both executor JVMs registered (driver + 2) before the spool job
    // POSTs: 8 simultaneous tasks over 8 slots in 2 processes is what
    // makes the spread near-certain
    val regDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < regDeadline)
      Thread.sleep(100)
    var spread = 0
    var parts = 0
    var wire: Seq[String] = Seq.empty
    var attempt = 0
    while (attempt < 3 && spread < 2) {
      attempt += 1
      val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val taskEnds = new java.util.concurrent.atomic.AtomicInteger(0)
      val lastEventNanos = new java.util.concurrent.atomic.AtomicLong(
        System.nanoTime())
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          execs.add(e.taskInfo.executorId)
          taskEnds.incrementAndGet()
          lastEventNanos.set(System.nanoTime()); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val conn = URI.create(s"$base/v1/statement").toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("X-Trino-User", "spooltopology")
        conn.setDoOutput(true)
        conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
        var body = new String(conn.getInputStream.readAllBytes(),
          StandardCharsets.UTF_8)
        conn.disconnect()
        require(!body.contains("\"error\""), body.take(400))
        val id = """"id":"([^"]+)"""".r.findFirstMatchIn(body)
          .map(_.group(1)).get
        // MID-drain: the part files back the open cursor right now
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
          sources.GraftStatementServer.spoolDirName(id))
        require(dir.isDirectory, s"no spool dir $dir while cursor open")
        parts = dir.listFiles().count(_.getName.startsWith("part-"))
        require(parts >= 2, s"spool held $parts part files, expected >= 2")
        // the spool job ran during the POST; its task-end events are
        // async on the listener bus — poll until the spread shows two
        // executors, OR the job's full 8 task-ends have drained and the
        // bus has gone quiet (the spread is then FINAL at 1 — without
        // this exit every 1-executor attempt burned the whole 10 s
        // deadline, ~30 s of pure sleep across the 3 retries), OR the
        // deadline
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (execs.size < 2 && System.nanoTime() < deadline &&
            !(taskEnds.get >= 8 &&
              System.nanoTime() - lastEventNanos.get > 500L * 1000 * 1000))
          Thread.sleep(50)
        val rows = Seq.newBuilder[String]
        var next = nextRe.findFirstMatchIn(body).map(_.group(1))
        while (next.isDefined) {
          body = get(next.get)
          require(!body.contains("\"error\""), body.take(400))
          dataRe.findFirstMatchIn(body).foreach { m =>
            m.group(1).stripPrefix("[").stripSuffix("]")
              .split("""(?<=\]),(?=\[)""").foreach(rows += _)
          }
          next = nextRe.findFirstMatchIn(body).map(_.group(1))
        }
        require(!dir.exists, s"spool dir $dir leaked after the drain")
        wire = rows.result().sorted
        spread = execs.size
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val direct = spark.sql(sql).collect()
      .map(r => s"[${r.getLong(0)},${r.getLong(1)}]").sorted.toSeq
    require(wire == direct && wire.nonEmpty,
      s"wire rows (${wire.size}) != direct (${direct.size})")
    s""""spool_topology":{"executors":$spread,"parts":$parts,""" +
      s""""rows":${wire.size},"match":true,"attempts":$attempt}"""
  }

  private def registerViews(spark: SparkSession, sf: String): Unit = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    Tables.customer(spark, sf).createOrReplaceTempView("customer")
    Tables.nation(spark, sf).createOrReplaceTempView("nation")
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val executorCounts = Seq(1, 2, 4)
    var spoolTopologyJson = ""
    // name -> (directSec, wireSec, wireRows) per N
    val results = executorCounts.map { n =>
      val spark = ScaleCurve.session(n)
      try {
        registerViews(spark, sf)
        val base = sources.GraftStatementServer.start(spark)
        // warm: one full wire drain + one direct run per statement
        statements.foreach { case (_, sql) =>
          wireRun(base, sql); spark.sql(sql).collect()
        }
        // the process-topology spool gate runs at the two-executor
        // point — the smallest N where "both executor JVMs" means
        // anything (verdict r17 #6)
        if (n == 2) spoolTopologyJson = spoolTopologyGate(spark, base)
        n -> statements.map { case (name, sql) =>
          val direct = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            spark.sql(sql).collect()
            (System.nanoTime() - t0) / 1e9
          }.min
          val runs = (1 to 2).map(_ => wireRun(base, sql))
          require(runs.map(_._2).distinct.size == 1,
            s"wire drains diverged within N=$n for $name")
          val directRows = spark.sql(sql).count()
          require(runs.head._2.size == directRows,
            s"$name wire rows ${runs.head._2.size} != direct $directRows")
          name -> (direct, runs.map(_._1).min, runs.head._2)
        }.toMap
      } finally spark.stop()
    }.toMap

    val base = results(executorCounts.head)
    val diverged = for {
      n <- executorCounts.tail
      (q, _) <- statements if results(n)(q)._3 != base(q)._3
    } yield s"$q@$n"
    if (diverged.nonEmpty) {
      System.err.println(
        s"[scale-statement] diverged: ${diverged.mkString(", ")}")
      println(s"""{"metric":"scale_curve_statement","status":"diverged","failed":"${diverged.mkString(",")}"}""")
      sys.exit(1)
    }
    val workers = executorCounts.map { n =>
      val qs = statements.map { case (q, _) =>
        val (d, w, _) = results(n)(q)
        s""""$q":{"direct":${JsonNum.f3(d)},"wire":${JsonNum.f3(w)}}"""
      }.mkString(",")
      s""""$n":{$qs}"""
    }.mkString(",")
    val maxOverhead = (for {
      n <- executorCounts; (q, _) <- statements
    } yield results(n)(q)._2 - results(n)(q)._1).max
    println(s"""{"metric":"scale_curve_statement","sf":"$sf",""" +
      s""""status":"ok","workers":{$workers},$spoolTopologyJson,""" +
      s""""max_overhead_sec":${JsonNum.f3(maxOverhead)}}""")
  }
}
