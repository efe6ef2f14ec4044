package perfbench

import java.io.File
import java.nio.file.Files

object Dirs {
  /** Bytes of the data files under `dir` (not checksums or markers). */
  def bytes(dir: File): Long =
    if (!dir.exists()) 0L
    else {
      val s = Files.walk(dir.toPath)
      try s.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def delete(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete()
  }
}
