package graft

import org.scalatest.funsuite.AnyFunSuite

/** Multi-executor scheduler gate: forks the `cluster` leg of
  * [[Harness]] as its own JVM (a second Spark master cannot coexist
  * with the suite's shared SparkContext) and requires the
  * `local-cluster[2,4,2048]` run — two REAL executor JVM processes,
  * serialized closures, netty shuffle — to produce bit-identical
  * results to the single-process run across the representative query
  * slice. This is the §5.2 worker-count invariance property on the
  * PROCESS-topology axis, the closest one machine gets to the
  * reference's 1-vs-5-worker result equality (reference:
  * results/q00N/workers-{1,5}). */
class LocalClusterSpec extends AnyFunSuite {

  test("two-executor-JVM local-cluster results equal single-process results") {
    val repo = new java.io.File(".").getCanonicalFile
    assert(new java.io.File(repo, "run-main.sh").exists(),
      s"expected to run from the repo root, cwd=$repo")
    val pb = new ProcessBuilder(
      "./run-main.sh", "graft.Harness", "cluster", "/root/testdata/sf0.001")
    pb.directory(repo)
    // the executor-launch path (WorkerCommandBuilder) needs these when
    // spawned outside the distribution's shell scripts
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_DRIVER_MEM", "6g")
    pb.redirectErrorStream(true)
    val p = pb.start()
    // drain on a separate thread (a full pipe would deadlock the child;
    // draining inline would block until child EXIT, making the waitFor
    // timeout below dead code — a hung child must fail, not hang us)
    val buf = new java.io.ByteArrayOutputStream()
    val drainer = new Thread(() => p.getInputStream.transferTo(buf))
    drainer.setDaemon(true)
    drainer.start()
    val finished = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) p.destroyForcibly()
    drainer.join(30 * 1000L)
    val out = new String(buf.toByteArray, "UTF-8")
    assert(finished, s"cluster check timed out:\n" +
      out.linesIterator.toSeq.takeRight(25).mkString("\n"))
    val tail = out.linesIterator.toSeq.takeRight(25).mkString("\n")
    assert(p.exitValue() == 0, s"cluster check failed:\n$tail")
    assert(out.contains("\"status\":\"ok\""), tail)
  }
}
