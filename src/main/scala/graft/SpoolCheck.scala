package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Statement-face memory-bound check (verdict r16 #7), run in its OWN
  * deliberately SMALL-heap JVM (`SPARK_DRIVER_MEM=768m ./run-main.sh
  * graft.SpoolCheck`): drives a one-partition multi-million-row result
  * through the real HTTP statement face and drains every page.
  *
  * Why a separate JVM: the property under test is "driver memory stays
  * O(page) even when the whole result is ONE partition". The spooled
  * serving path streams pre-rendered lines, so ~640 MB of rendered
  * rows never coexist in memory; the pre-r17 pipelined pull
  * materialized the full partition driver-side and cannot finish in
  * this heap. An in-suite heap-delta assertion would race the 16 GB
  * shared test JVM's other suites; here the heap itself is the
  * assertion — regressing to whole-partition materialization OOMs and
  * the check exits nonzero.
  *
  * Prints one JSON line
  * `{"metric":"spool_check","rows":N,"pages":P,"complete":true}`. */
object SpoolCheck {

  private def get(url: String): String = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val out = new String(conn.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    conn.disconnect()
    out
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(2000000L)
    // optional 2nd arg: spool codec (none|gzip|deflate) — the r19
    // codec-default measurement runs this check once per codec and
    // compares spooled bytes vs wall seconds
    val codec = args.lift(1).getOrElse("none")
    val spark = GraftSession.local("8")
    try {
      spark.conf.set(sources.GraftWireConf.StatementSpoolCodecKey, codec)
      val base = sources.GraftStatementServer.start(spark)
      // one partition, ~250 B of rendered JSON per row: the exact
      // shape the pipelined pull cannot bound
      val sql = s"SELECT /*+ REPARTITION(1) */ id, repeat('x', 120) " +
        s"AS pad FROM range($rows)"
      val t0 = System.nanoTime()
      val conn = URI.create(s"$base/v1/statement").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("X-Trino-User", "spoolcheck")
      conn.setDoOutput(true)
      conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
      var body = new String(conn.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      conn.disconnect()
      // spooled footprint, measured MID-drain (the dir is deleted at
      // drain end): what the codec trades CPU against
      val spoolBytes = """"id":"([^"]+)"""".r.findFirstMatchIn(body)
        .map(_.group(1)).map { id =>
          val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
            sources.GraftStatementServer.spoolDirName(id))
          Option(dir.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith("part-")).map(_.length()).sum
        }.getOrElse(0L)

      // drain: follow nextUri and verify the COMPLETE id multiset
      // arrived, WITHOUT retaining anything. count + sum + xor alone do
      // NOT pin the multiset ({0,0,3,3} and {0,1,2,3} agree on all
      // three — ADVICE r18), so a fourth accumulator folds each id
      // through a 64-bit avalanche mix (splitmix64's finalizer) and
      // XORs the results: a duplication-plus-omission corruption now
      // has to collide a full-width hash, leaving the gate wrong only
      // with ~2^-64 probability instead of on constructible inputs.
      // Arrival ORDER is deliberately not asserted: round-robin
      // repartition + shuffle block fetch order is not a Spark
      // ordering contract, so an order gate could spuriously fail on a
      // scheduler change even though the spool path is correct
      // (ADVICE r17).
      def mix64(v: Long): Long = {
        var z = v + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val nextRe = """"nextUri":"([^"]+)"""".r
      val idRe = """\[(\d+),""".r
      var n = 0L
      var pages = 0
      var sum = 0L
      var xor = 0L
      var hx = 0L
      var next = nextRe.findFirstMatchIn(body).map(_.group(1))
      while (next.isDefined) {
        body = get(next.get)
        pages += 1
        if (body.contains("\"error\"")) {
          System.err.println(body.take(500))
          sys.exit(2)
        }
        idRe.findAllMatchIn(body).foreach { m =>
          val id = m.group(1).toLong
          sum += id
          xor ^= id
          hx ^= mix64(id)
          n += 1
        }
        next = nextRe.findFirstMatchIn(body).map(_.group(1))
      }
      require(n == rows, s"drained $n of $rows rows")
      val (expSum, expXor, expHx) = {
        var s = 0L; var x = 0L; var h = 0L; var i = 0L
        while (i < rows) { s += i; x ^= i; h ^= mix64(i); i += 1 }
        (s, x, h)
      }
      require(sum == expSum && xor == expXor && hx == expHx,
        s"drained id multiset mismatch: sum=$sum/$expSum xor=$xor/$expXor " +
          s"hash=$hx/$expHx")
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"metric":"spool_check","rows":$n,"pages":$pages,""" +
        s""""codec":"$codec","spoolBytes":$spoolBytes,""" +
        s""""sec":${JsonNum.f3(sec)},"complete":true}""")
    } finally spark.stop()
  }
}
