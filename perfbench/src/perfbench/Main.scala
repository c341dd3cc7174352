package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.GraftStatementServer

/** The benchmark's driver program. It sets a session up once, checks
  * every operation of the workload once (the warm pass), then runs whole
  * passes of the operations in a seeded order for
  * the requested time, one at a time (a closed loop with one client).
  * Everything it measures goes to one JSON file; with `--trace 1` the
  * spans of the traced passes go to a second file. The arithmetic on
  * both is done by `run.py`.
  *
  * Modes: `run` (the benchmark) and `pin` (one warm pass that records
  * each operation's golden row count and fingerprint). */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  private def parse(a: Array[String]): Args =
    new Args(a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length

  private def warmFiles(f: File): Unit =
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(warmFiles))
    else {
      val in = new java.io.FileInputStream(f)
      val buf = new Array[Byte](1 << 20)
      try while (in.read(buf) >= 0) () finally in.close()
    }

  private def loadGoldens(path: String): Map[String, (Long, String)] = {
    val f = new File(path)
    if (!f.exists) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val mode = a("mode")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = new File(a("data")).getAbsolutePath
    val workDir = new File(a("work")).getAbsolutePath
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors.toString
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val w = new Workloads(dataDir, workDir)
    val ops = w.ops(workload)
    val goldens = loadGoldens(a("goldens"))
    val pinned = mutable.LinkedHashMap.empty[String, (Long, String)]
    val pinnedRows = mutable.LinkedHashMap.empty[String, Seq[String]]
    if (mode == "run") {
      val unpinned = ops.map(_.name).filterNot(goldens.contains)
      if (unpinned.nonEmpty) {
        System.err.println(s"perfbench: no golden for ${unpinned.mkString(", ")}")
        sys.exit(3)
      }
    }

    val opRecords = mutable.ArrayBuffer.empty[String]
    val passRecords = mutable.ArrayBuffer.empty[String]
    // result-spool bytes the face wrote during the current pass
    var passSpoolBytes = 0L

    /** Runs one operation. `check` = collect and fingerprint the result
      * instead of draining it into the noop sink (frame operations; face
      * operations always fingerprint the rows they receive). Returns
      * (record fields, error) where a failed check is an error too. */
    def runOp(spark: SparkSession, face: Option[Face], op: Op, check: Boolean,
        pass: Int, traced: Boolean): (Seq[(String, Any)], Option[String]) = {
      System.err.println(s"perfbench: pass $pass op ${op.name}")
      val gc0 = gcMs
      val cg0 = org.apache.spark.PerfbenchBus.codegenCompiles
      val t0 = Clock.ms
      val f = mutable.ArrayBuffer[(String, Any)]("name" -> op.name, "pass" -> pass,
        "traced" -> traced)
      var rows: Seq[String] = Nil
      val error: Option[String] =
        try {
          op match {
            case FaceOp(_, sql) =>
              val r = face.get.run(sql)
              f += "post" -> Seq(r.post.t0, r.post.t1, r.post.bytes.toDouble)
              f += "pages" -> r.pages.map(p => Seq(p.t0, p.t1, p.bytes.toDouble))
              f += "face" -> Map("analysis_ms" -> r.analysisMs,
                "planning_ms" -> r.planningMs, "queued_ms" -> r.queuedMs)
              f += "spool_bytes" -> r.spoolBytes
              passSpoolBytes += r.spoolBytes
              rows = r.rows
              if (mode == "pin") {
                // the face must return exactly what the entry's own builder does
                val own = Canon.fingerprint(w.entryRows(spark, op.name).iterator)
                if (own != Canon.fingerprint(rows.iterator)) {
                  System.err.println(s"perfbench: face result of ${op.name} differs from the entry's")
                  sys.exit(5)
                }
              }
            case FrameOp(_, build, writes) =>
              f += "writes" -> writes
              val b0 = Clock.ms
              val df = build(spark, dataDir)
              val b1 = Clock.ms
              f += "build" -> Seq(b0, b1)
              if (check) rows = df.collect().toSeq.map(Canon.rowText)
              else df.write.format("noop").mode("overwrite").save()
              f += "read" -> Seq(b1, Clock.ms)
          }
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val t1 = Clock.ms
      val checked = error.isEmpty && (check || op.isInstanceOf[FaceOp])
      val got = if (checked) Some(Canon.fingerprint(rows.iterator)) else None
      val mismatch = got.flatMap { g =>
        if (mode == "pin") { pinned(op.name) = g; pinnedRows(op.name) = rows.take(200); None }
        else goldens.get(op.name).filter(_ != g)
          .map(e => s"result ${g._1} rows ${g._2} != golden ${e._1} rows ${e._2}")
      }
      val err = error.orElse(mismatch)
      f ++= Seq("t0" -> t0, "t1" -> t1, "ok" -> err.isEmpty, "error" -> err,
        "checked" -> got.isDefined, "rows" -> got.map(_._1),
        "gc_ms" -> (gcMs - gc0),
        "codegen" -> (org.apache.spark.PerfbenchBus.codegenCompiles - cg0),
        "persisted" -> spark.sparkContext.getPersistentRDDs.size)
      (f.toSeq, err)
    }

    // set-up: JVM start to ready
    val b0 = Clock.ms
    val spark = GraftSession.local(cores)
    val b1 = Clock.ms
    w.configure(spark)
    if (workload == "federated-sql") w.bindPlacement(spark)
    val b2 = Clock.ms
    val face = if (workload == "federated-sql")
      Some(new Face(GraftStatementServer.start(spark), () => du(new File(w.spoolRoot))))
    else None
    val b3 = Clock.ms
    warmFiles(new File(dataDir))
    val b4 = Clock.ms
    ops.foreach { op =>
      runOp(spark, face, op, check = true, pass = -1, traced = false)._2.foreach { e =>
        System.err.println(s"perfbench: warm pass failed on ${op.name}: $e")
        sys.exit(4)
      }
    }
    val b5 = Clock.ms
    val setup = Json.obj(Seq("build_s" -> (b1 - b0) / 1e3,
      "catalog_s" -> (b2 - b1) / 1e3, "face_s" -> (b3 - b2) / 1e3,
      "cache_s" -> (b4 - b3) / 1e3, "warm_s" -> (b5 - b4) / 1e3,
      "setup_s" -> (b5 - jvmStart) / 1e3))

    // the state a leak is measured against: what the warm pass left
    def derbyDirs = Option(new File(System.getProperty("java.io.tmpdir")).listFiles)
      .map(_.count(_.getName.startsWith("graft-derby-"))).getOrElse(0)
    def spoolDirs = Option(new File(w.spoolRoot).listFiles)
      .map(_.count(_.getName.startsWith("graft-spool-"))).getOrElse(0)
    def persisted: Int = {
      System.gc()
      Thread.sleep(300)
      spark.sparkContext.getPersistentRDDs.size
    }
    val before = (derbyDirs, persisted)
    // what the engine's writes leave on disk: the table and index roots
    // (the input tables are never written)
    val roots = Seq(new File(w.lakeRoot), new File(w.indexRoot))

    if (mode == "run") {
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val start = Clock.ms
      var pass = 0
      while (pass == 0 || (trace && pass < 2) || Clock.ms - start < seconds * 1000) {
        val traced = trace && pass % 2 == 1
        if (traced) tracer.foreach(_.attach())
        passSpoolBytes = 0L
        val p0 = Clock.ms
        val order = new scala.util.Random(seed * 7919L + pass).shuffle(ops)
        order.foreach { op =>
          val (rec, _) = runOp(spark, face, op, check = false, pass = pass, traced = traced)
          opRecords += Json.obj(rec)
        }
        if (traced) tracer.foreach(_.detach())
        val p1 = Clock.ms
        passRecords += Json.obj(Seq("pass" -> pass, "traced" -> traced, "t0" -> p0,
          "t1" -> p1, "store_bytes" -> (roots.map(du).sum + passSpoolBytes)))
        pass += 1
      }
      tracer.foreach { t =>
        // the face plans and runs its statements without a Dataset action,
        // so no plan reaches the listener: plan each face text once more,
        // outside any timed span, for its exchange count
        ops.collect { case FaceOp(name, sql) =>
          t.add("k" -> "face_plan", "name" -> name,
            "exchanges" -> Tracer.exchanges(spark.sql(sql).queryExecution.executedPlan))
        }
        t.write(out + ".spans")
      }
    }

    if (mode == "pin") {
      val w2 = new java.io.PrintWriter(a("goldens"), "UTF-8")
      try w2.println(pinned.map { case (n, (r, h)) =>
        s"  ${Json.str(n)}: {\"rows\": $r, \"hash\": ${Json.str(h)}}" }
        .mkString("{\n", ",\n", "\n}"))
      finally w2.close()
      val w3 = new java.io.PrintWriter(a("goldens") + ".rows", "UTF-8")
      try w3.println(Json.value(pinnedRows)) finally w3.close()
    }

    val leaks = Map("spool_dirs" -> spoolDirs,
      "derby_dirs_added" -> (derbyDirs - before._1),
      "persisted_rdds_added" -> (persisted - before._2))
    val result = Seq("workload" -> workload, "mode" -> mode, "cores" -> cores.toInt,
      "seed" -> seed, "jvm_start_ms" -> jvmStart,
      "setup" -> RawJson(setup), "ops" -> opRecords.map(RawJson),
      "passes" -> passRecords.map(RawJson),
      "leaks" -> leaks, "peak_rss_kb" -> vmHwmKb)
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try pw.println(Json.obj(result)) finally pw.close()
    spark.stop()
    // the statement face's HTTP dispatcher is not a daemon thread
    sys.exit(0)
  }
}

/** Already-rendered JSON, embedded as is. */
final case class RawJson(text: String)
