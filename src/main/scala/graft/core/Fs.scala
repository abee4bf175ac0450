package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

/** File-system helpers shared by the fixture builders and the bench
  * harness. */
object Fs {
  /** Delete `p` and everything under it, children first. A missing `p`
    * is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
