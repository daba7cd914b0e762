package graft

import java.io.File

/** The source walk shared by the source-level audits
  * ([[WorldRecipeAuditSpec]], [[SessionFactoryAuditSpec]]); they run
  * from the repo root and start no Spark session. */
object SourceTree {
  def scalaFiles(dir: File): Seq[File] = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.filter(_.isFile).filter(_.getName.endsWith(".scala")).toSeq ++
      fs.filter(_.isDirectory).flatMap(scalaFiles)
  }

  def readAll(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
}
