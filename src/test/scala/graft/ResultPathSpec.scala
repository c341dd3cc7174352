package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwire: the statement face serves every result through one path,
  * `GraftStatementServer.serveState` — one job whose tasks return a
  * small partition inline or spool a large one to their own file. A
  * driver-side partition pull (`toLocalIterator`) holds a whole
  * partition in driver memory, and a `saveAsTextFile` spool pays an
  * output commit and a directory listing for every statement; neither
  * may come back under the wire sources. */
class ResultPathSpec extends AnyFunSuite {

  private val banned = Seq("toLocalIterator(", "saveAsTextFile(")

  test("no second result path under graft/sources") {
    val root = new java.io.File("src/main/scala/graft/sources")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = for {
      f <- java.nio.file.Files.walk(root.toPath).iterator.asScala.map(_.toFile)
        .filter(_.getName.endsWith(".scala")).toSeq.sorted
      (l, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n", -1).zipWithIndex
      if banned.exists(l.contains)
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("second result path:\n", "\n", ""))
  }
}
