package graft

import java.io.File

/** Local-filesystem helpers shared by the catalog, the entries and the
  * harness. */
private[graft] object LocalFiles {

  /** Delete `f` and, when it is a directory, everything under it. */
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** The URL of a new embedded-Derby database in a fresh temp directory
    * named `prefix…`, which is deleted with the database when the JVM
    * exits. */
  def derbyUrl(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(rmTree(dir))
    s"jdbc:derby:$dir/db;create=true"
  }
}
