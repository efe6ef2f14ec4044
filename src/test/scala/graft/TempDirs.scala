package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.util.control.NonFatal

/** Temp directories for the suites: each is deleted, with everything
  * under it, when the test JVM exits (`File.deleteOnExit` skips a
  * directory that is not empty).
  */
object TempDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(deleteTree)))

  /** A new directory in the JVM temp directory, its name starting with
    * `prefix`.
    */
  def apply(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  private def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch { case NonFatal(_) => () }
}
