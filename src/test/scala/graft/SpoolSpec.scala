package graft

import org.scalatest.funsuite.AnyFunSuite

/** Statement-face page-memory bound (verdict r16 #7): forks the
  * `spool` leg of [[Harness]] into a deliberately SMALL-heap JVM
  * (768 MB) and drains a ONE-PARTITION 2M-row × ~250 B result through
  * the real HTTP statement face. The spooled serving path streams pre-rendered
  * lines O(page) at a time; the pipelined `toLocalIterator` pull it
  * replaced materializes the whole ~640 MB partition driver-side and
  * cannot complete in this heap — so the heap bound IS the assertion,
  * deterministic where an in-suite heap-delta check would race the
  * 16 GB shared test JVM's concurrent suites. */
class SpoolSpec extends AnyFunSuite {

  test("a one-partition 2M-row result drains through the face in a 768m heap") {
    val repo = new java.io.File(".").getCanonicalFile
    assert(new java.io.File(repo, "run-main.sh").exists(),
      s"expected to run from the repo root, cwd=$repo")
    val pb = new ProcessBuilder("./run-main.sh", "graft.Harness", "spool")
    pb.directory(repo)
    pb.environment().put("SPARK_DRIVER_MEM", "768m")
    pb.redirectErrorStream(true)
    val buf = new java.io.ByteArrayOutputStream()
    val p = pb.start()
    val drainer = new Thread(() => p.getInputStream.transferTo(buf))
    drainer.setDaemon(true)
    drainer.start()
    val finished = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) p.destroyForcibly()
    drainer.join(30 * 1000L)
    val out = new String(buf.toByteArray, "UTF-8")
    val tail = out.linesIterator.toSeq.takeRight(25).mkString("\n")
    assert(finished, s"spool check timed out:\n$tail")
    assert(p.exitValue() == 0, s"spool check failed:\n$tail")
    assert(out.contains("\"rows\":2000000") && out.contains("\"complete\":true"),
      tail)
  }
}
