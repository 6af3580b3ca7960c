package graft

import java.io.File

/** Local-filesystem helpers shared by staging, streaming, the SLT runner
  * and the bench. */
object Fs {

  /** Delete `f` and, when it is a directory, everything under it. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Total bytes of the files at or under `f`; 0 when it does not exist. */
  def size(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
}
