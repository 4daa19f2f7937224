package graft

import java.nio.file.{Files, Path}

/** Scratch directories for specs. Each one lives under a single root
  * per test JVM, and a shutdown hook deletes that root when the suite
  * ends, so a test run leaves nothing under the temp dir.
  */
object TestDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_test")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(r)))
    r
  }

  // Files.walk does not follow symbolic links, so nothing outside the
  // root is deleted
  private def rm(p: Path): Unit = {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f): Unit)
    finally paths.close()
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
