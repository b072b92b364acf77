package graft.migrator

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** Discovery of migration files in a directory.
  *
  * Mirrors the reference's scandir comprehension
  * (reference: clickhouse_migrate/migrate.py:84-86): keep `*.sql` /
  * `*.json`, parse the version from the filename prefix `V<digits>`
  * before the first `_` (both `V1__x.sql` and `V2_y.json` fixture forms
  * occur — reference: tests/migrations_mixed/), md5 the file bytes.
  * Driver-side `java.nio`: the migration set is tiny metadata (tens of
  * rows), in directory-listing order, not version order.
  */
object MigrationScan {

  def parseVersion(fileName: String): Int =
    // reference: migrate.py:84 — int(f.name.split('_')[0].replace('V',''))
    fileName.split('_')(0).replaceAll("V", "").toInt

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** The migration files of `migrationsHome`; none if it is not a directory. */
  def migrations(migrationsHome: String): Seq[Migration] = {
    val dir = Paths.get(migrationsHome)
    val files: Seq[Path] =
      if (Files.isDirectory(dir)) Files.list(dir).iterator().asScala.toSeq
      else Seq.empty
    files
      .filter(p => p.getFileName.toString.endsWith(".sql") || p.getFileName.toString.endsWith(".json"))
      .map { p =>
        val name = p.getFileName.toString
        Migration(parseVersion(name), s"$migrationsHome/$name", md5Hex(Files.readAllBytes(p)))
      }
  }

  /** [[migrations]] as a (local) Dataset. */
  def scan(spark: SparkSession, migrationsHome: String): Dataset[Migration] = {
    import spark.implicits._
    spark.createDataset(migrations(migrationsHome))
  }
}
