package graft

import org.scalactic.source.Position
import org.scalatest.Assertions

/** Guard for tests that read the reference checkout's fixtures or SLT
  * corpus: where every listed path exists the test runs as written;
  * otherwise it is canceled with the absent paths named. */
object Reference {
  def assumeExists(paths: String*)(implicit pos: Position): Unit = {
    val absent = paths.filterNot(p => new java.io.File(p).exists)
    if (absent.nonEmpty)
      Assertions.cancel("reference input absent: " + absent.take(3).mkString(", ") +
        (if (absent.size > 3) s" (+${absent.size - 3} more)" else ""))
  }
}
