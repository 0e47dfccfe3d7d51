package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch directories for specs that do not outlive them. */
object TempDirs {

  /** A fresh `graft-<prefix>…` directory under `java.io.tmpdir`. */
  def create(prefix: String): String =
    Files.createTempDirectory(s"graft-$prefix").toString

  /** Deletes `dir` and everything under it; a missing `dir` is fine. */
  def deleteTree(dir: String): Unit = {
    val root: Path = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  /** Runs `body` with a fresh directory from [[create]] and deletes the
    * directory tree afterwards, also when `body` throws.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = create(prefix)
    try body(dir) finally deleteTree(dir)
  }
}
