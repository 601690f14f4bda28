package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Tiny filesystem helpers shared by the local-FS sinks. */
object Fs {
  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
