package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwire: a parquet footer is opened in exactly one place,
  * `GraftVersions.footer`, which builds its read options from the
  * session's Hadoop conf. An opener over a fresh Hadoop `Configuration`
  * re-parses Hadoop's default resources on every call (~16 ms a file
  * against ~1 ms), a cost every commit's stats read and every bloom
  * sizing would pay per file. */
class FooterOpenSpec extends AnyFunSuite {

  private val banned = Seq("ParquetFileReader.open(",
    "new org.apache.hadoop.conf.Configuration()", "new Configuration()")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    java.nio.file.Files.walk(d.toPath).iterator.asScala.map(_.toFile)
      .filter(_.getName.endsWith(".scala")).toSeq.sorted

  private def lines(f: java.io.File): IndexedSeq[String] =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n", -1).toIndexedSeq

  test("no parquet footer is opened outside GraftVersions.footer") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val catalog = new java.io.File(root, "graft/sources/GraftParquetCatalog.scala")
    val cat = lines(catalog)
    val start = cat.indexWhere(_.trim.startsWith("def footer("))
    assert(start >= 0, "GraftVersions.footer not found")
    val end = cat.indexWhere(_ == "  }", start)
    val hits = for {
      f <- scalaFiles(root)
      (l, i) <- lines(f).zipWithIndex
      if banned.exists(l.contains)
    } yield (f, i, l.trim)
    val (inside, outside) = hits.partition { case (f, i, _) =>
      f == catalog && i > start && i < end
    }
    assert(outside.isEmpty, outside.map { case (f, i, l) =>
      s"${f.getPath}:${i + 1}: $l" }.mkString("footer opened outside the helper:\n", "\n", ""))
    assert(inside.count(_._3.contains("ParquetFileReader.open(")) == 1, inside.toString)
  }
}
