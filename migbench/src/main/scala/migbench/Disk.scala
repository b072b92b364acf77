package migbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** What the program left on disk, read without going through it. */
object Disk {

  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toVector.sortBy(_.toString)
      finally walk.close()
    }

  /** Data files of a table or ledger directory: everything but the
    * `_SUCCESS` markers and `.crc` checksums. */
  def dataFiles(dir: Path): Seq[Path] = files(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The files `MigrationScan` reads and hashes. */
  def migrationFiles(dir: Path): Seq[Path] = files(dir).filter { p =>
    val n = p.getFileName.toString
    p.getParent == dir && (n.endsWith(".sql") || n.endsWith(".json"))
  }

  /** Every file under `dir` with its size and modification time. */
  def snapshot(dir: Path): Seq[(String, Long, Long)] =
    files(dir).map(p => (dir.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toVector.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
