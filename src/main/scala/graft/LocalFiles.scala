package graft

import java.io.File

/** Local-filesystem helpers shared by the catalog, the entries and the
  * harness. */
private[graft] object LocalFiles {

  /** Delete `f` and, when it is a directory, everything under it. */
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }
}
