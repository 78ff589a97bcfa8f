package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** On-disk layout figures of a sink directory. */
object Disk {
  /** Data files under `dir`: every regular file whose name is not hidden
    * (`.crc` side files, `_SUCCESS` markers, staging dirs). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !dir.relativize(p).iterator().asScala.exists { n =>
          val x = n.toString; x.startsWith(".") || x.startsWith("_") }).toList
      finally s.close()
    }

  def dataBytes(dir: Path): Long = dataFiles(dir).map(p => Files.size(p)).sum

  /** `batch=` run directories of one fan-out table. */
  def runs(table: Path): Seq[Path] =
    if (!Files.exists(table)) Nil
    else {
      val s = Files.list(table)
      try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("batch=")).toList
      finally s.close()
    }
}
