package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Local-disk helpers for the benchmark's own bookkeeping (sizes,
  * copies, wipes). The engine's own IO never goes through here. */
object Disk {
  private def walk(d: File): Seq[File] =
    if (!d.exists) Nil
    else {
      val s = Files.walk(d.toPath)
      try s.iterator.asScala.map(_.toFile).toList finally s.close()
    }

  /** Bytes of all regular files under `d` (data, checksums, markers). */
  def bytesUnder(d: File): Long = walk(d).filter(_.isFile).map(_.length).sum

  def delete(d: File): Unit =
    walk(d).sortBy(-_.getPath.length).foreach(_.delete())

  def copy(from: File, to: File): Unit = {
    delete(to)
    walk(from).foreach { f =>
      val t = to.toPath.resolve(from.toPath.relativize(f.toPath))
      if (f.isDirectory) Files.createDirectories(t)
      else Files.copy(f.toPath, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
}
