package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwire: a predicate is read only after it is resolved
  * (`GraftBridge.resolveAgainst`), so nothing under src/main/scala
  * pattern-matches Spark's pre-resolution Column tree. A match on
  * `ColumnNode` or `UnresolvedFunction` is a second, unresolved walk:
  * it keys columns by the caller's spelling, cannot see a cast's input
  * type, and has to restate every rule that resolution already applies
  * (nested fields, coercion, case-insensitive names). */
class ResolvedWalkSpec extends AnyFunSuite {

  private val banned = Seq(
    """\bcase\b.*\b(ColumnNode|UnresolvedFunction)\b""",
    """isInstanceOf\[[\w.]*(ColumnNode|UnresolvedFunction)\]""",
    """\.node\s+match\b""").map(_.r)

  test("nothing under src/main/scala pattern-matches the unresolved Column tree") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = for {
      f <- java.nio.file.Files.walk(root.toPath).iterator.asScala.map(_.toFile)
        .filter(_.getName.endsWith(".scala")).toSeq.sorted
      (l, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n", -1).zipWithIndex
      if banned.exists(_.findFirstIn(l).isDefined)
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("unresolved Column tree matched:\n", "\n", ""))
  }
}
