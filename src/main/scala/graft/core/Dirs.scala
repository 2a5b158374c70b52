package graft.core

import java.nio.file.{Files, Path}

/** The one recursive directory delete. */
object Dirs {
  /** Deletes `dir` and everything under it; a missing `dir` is no error. */
  private[graft] def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
}
