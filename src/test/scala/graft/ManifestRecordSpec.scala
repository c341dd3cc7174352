package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwire: a versioned snapshot has one metadata record, its
  * manifest, and one parser, `GraftVersions.Snapshot`. No source names a
  * `_schemas` store; the `_manifests` directory is named in one code
  * line (`manifestsDir`); and a manifest path is used only by
  * `Snapshot.apply` (the one read), `Snapshot.all` (the one listing) and
  * the two writers, `tryPublish` and `tombstone`. A second reader would
  * re-parse headers the snapshot already carries, and a second store
  * could disagree with the record published atomically with the
  * snapshot. */
class ManifestRecordSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")
  private val catalog = new java.io.File(root, "graft/sources/GraftParquetCatalog.scala")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    java.nio.file.Files.walk(d.toPath).iterator.asScala.map(_.toFile)
      .filter(_.getName.endsWith(".scala")).toSeq.sorted

  private def lines(f: java.io.File): IndexedSeq[String] =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n", -1).toIndexedSeq

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private val defLine = """^\s*(?:(?:private(?:\[\w+\])?|override|final)\s+)*def\s+(\w+).*""".r

  /** The name of the def whose body holds line `i` of `ls`. */
  private def enclosingDef(ls: IndexedSeq[String], i: Int): String =
    (i to 0 by -1).iterator.map(ls).collectFirst { case defLine(n) => n }
      .getOrElse("<none>")

  test("no source names a _schemas store") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = for {
      f <- scalaFiles(root)
      (l, i) <- lines(f).zipWithIndex
      if l.contains("_schemas")
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("a second schema store is named:\n", "\n", ""))
  }

  test("a manifest file is read only in Snapshot.apply") {
    assert(catalog.isFile, s"run from the repository root: ${catalog.getAbsolutePath}")
    val allowed = Set("manifestsDir", "manifestFile", "apply", "all",
      "tryPublish", "tombstone")
    val uses = for {
      f <- scalaFiles(root)
      ls = lines(f)
      (l, i) <- ls.zipWithIndex
      if !isComment(l) && (l.contains("_manifests") ||
        l.contains("manifestsDir(") || l.contains("manifestFile("))
    } yield (f, enclosingDef(ls, i), i, l.trim)
    val stray = uses.filterNot { case (f, d, _, l) =>
      f == catalog && allowed(d) && (!l.contains("_manifests") || d == "manifestsDir")
    }
    assert(stray.isEmpty, stray.map { case (f, d, i, l) =>
      s"${f.getPath}:${i + 1} (in $d): $l" }
      .mkString("a manifest path is used outside GraftVersions.Snapshot:\n", "\n", ""))
    // the one read and the one listing both sit in object Snapshot
    val cat = lines(catalog)
    val snapObj = cat.indexWhere(_.trim == "object Snapshot {")
    val snapEnd = cat.indexWhere(_ == "  }", snapObj)
    assert(snapObj >= 0 && snapEnd > snapObj, "object Snapshot not found")
    val readers = uses.filter { case (_, d, _, _) => d == "apply" || d == "all" }
    assert(readers.map(_._2).toSet == Set("apply", "all"), readers.toString)
    assert(readers.forall { case (_, _, i, _) => i > snapObj && i < snapEnd },
      readers.toString)
    val reads = (snapObj until snapEnd).map(cat).count(_.contains("readAllLines("))
    assert(reads == 1, "Snapshot.apply must hold the one manifest read")
  }
}
