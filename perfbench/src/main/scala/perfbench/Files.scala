package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}

/** Local-filesystem helpers for the benchmark's own working tree. */
object Files {
  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList } finally s.close()
    }
  }

  def delete(root: String): Unit =
    walk(root).reverse.foreach(p => JFiles.deleteIfExists(p))

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    walk(from).foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(d)
      else JFiles.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Data files under `root`: parquet parts, not checksums or markers. */
  def dataFiles(root: String): Seq[File] =
    walk(root).map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".parquet"))

  def bytes(root: String): Long = dataFiles(root).map(_.length).sum
}
