package migbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.util.Random

/** One migration file as the generator writes it. `{db}` in the text is
  * replaced by the database name of the op that stages it. */
final case class MigrationFile(name: String, text: String)

/** A generated set of small versions and what applying them must leave:
  * the row count of every table it creates. */
final case class SmallVersions(files: Seq[MigrationFile], rowsPerTable: Map[String, Long])

/** Counts of the 100k-row CSV, taken while writing it: the answers the
  * paper's sequential-DML scenario must reproduce. */
final case class CsvGolden(totalRows: Long, nameGt3000: Long, md5: String)

/** Seeded inputs. The program only ever sees the files written here; the
  * golden values come from the generator's own bookkeeping, never from
  * reading the program's output back. */
object Inputs {

  val CsvRows = 100000
  /** `name` is drawn from [0, NameRange): about half the rows pass the
    * scenario's `name > 3000` predicate, so both branches of every
    * dependent UPDATE rewrite real rows. */
  val NameRange = 6000

  /** The reference's ingest file: gzip CSV with header `id,name`, both
    * UInt32, ids 1..n in order. */
  def writeCsv(path: Path, seed: Long, rows: Int = CsvRows): CsvGolden = {
    val rnd = new Random(seed)
    val bytes = new java.io.ByteArrayOutputStream()
    var gt3000 = 0L
    val out = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(bytes), UTF_8))
    try {
      out.write("id,name\n")
      var id = 1
      while (id <= rows) {
        val name = rnd.nextInt(NameRange)
        if (name > 3000) gt3000 += 1
        out.write(s"$id,$name\n")
        id += 1
      }
    } finally out.close()
    Files.createDirectories(path.getParent)
    Files.write(path, bytes.toByteArray)
    CsvGolden(rows.toLong, gt3000, md5Hex(bytes.toByteArray))
  }

  /** The paper's scenario (reference tests/migrations_seq): V1 creates
    * the table, V2 ingests the CSV; V3 holds the five sequential DMLs and
    * arrives for the second `migrate`. */
  def seqDml(csvPath: String): (Seq[MigrationFile], MigrationFile) = (
    Seq(
      MigrationFile("V1__create_sample.sql",
        "CREATE TABLE {db}.sample(id UInt32, name UInt32) ENGINE MergeTree PARTITION BY tuple()\nORDER BY tuple()"),
      MigrationFile("V2__ingest_sample.sql",
        s"INSERT INTO {db}.sample FROM INFILE '$csvPath' FORMAT CSVWithNames")),
    MigrationFile("V3_sequential_dmls.json",
      """["ALTER TABLE {db}.sample ADD COLUMN enabled UInt32 DEFAULT 1",
        |"ALTER TABLE {db}.sample ADD COLUMN guard UInt32 DEFAULT -1",
        |"ALTER TABLE {db}.sample UPDATE enabled=0 WHERE name > 3000",
        |"ALTER TABLE {db}.sample UPDATE guard=0 WHERE enabled = 0",
        |"ALTER TABLE {db}.sample UPDATE guard=1 WHERE enabled = 1"]""".stripMargin))

  /** `n` small versions: CREATE TABLE and `FORMAT Values` inserts, and
    * with `rewrites` also ADD COLUMN on tiny tables and multi-statement
    * `.json` files that insert then UPDATE (each a full-table rewrite).
    * Every table has `id` and `v`; inserts list every column the table
    * has at that version. The seed draws the values; which versions,
    * tables and row counts there are is the same for every seed, so the
    * work and the bytes stored do not change with it. */
  def smallVersions(n: Int, seed: Long, rewrites: Boolean): SmallVersions = {
    val shape = new Random(n)
    val rnd = new Random(seed)
    val columns = mutable.LinkedHashMap[String, Vector[String]]()
    val rows = mutable.Map[String, Long]()
    def valuesFor(table: String): String = {
      val k = 2 + shape.nextInt(5)
      val base = rows(table)
      rows(table) = base + k
      (1 to k).map { i =>
        val vals = columns(table).map {
          case "id" => (base + i).toString
          case _ => rnd.nextInt(1000).toString
        }
        vals.mkString("(", ", ", ")")
      }.mkString(", ")
    }
    def insert(t: String): String =
      s"INSERT INTO {db}.$t (${columns(t).mkString(", ")}) FORMAT Values ${valuesFor(t)}"
    val files = (1 to n).map { v =>
      val r = shape.nextInt(100)
      if (columns.isEmpty || r < (if (rewrites) 35 else 60)) {
        val t = s"t${columns.size + 1}"
        columns(t) = Vector("id", "v")
        rows(t) = 0L
        MigrationFile(s"V${v}__create_$t.sql",
          s"CREATE TABLE {db}.$t(id UInt32, v UInt32) ENGINE MergeTree ORDER BY tuple()")
      } else {
        val t = columns.keys.toIndexedSeq(shape.nextInt(columns.size))
        if (r < 70 || !rewrites) MigrationFile(s"V${v}__insert_$t.sql", insert(t))
        else if (r < 80) {
          val c = s"c${columns(t).size - 1}"
          columns(t) = columns(t) :+ c
          MigrationFile(s"V${v}__add_${c}_$t.sql",
            s"ALTER TABLE {db}.$t ADD COLUMN $c UInt32 DEFAULT ${rnd.nextInt(10)}")
        } else {
          val stmts = Seq(insert(t), s"ALTER TABLE {db}.$t UPDATE v = v + 1 WHERE id % 2 = 0")
          MigrationFile(s"V${v}_fill_$t.json", stmts.map(s => "\"" + s + "\"").mkString("[", ",\n", "]"))
        }
      }
    }
    SmallVersions(files, rows.toMap)
  }

  /** Write `files` for database `db` into `dir`; returns version → md5 of
    * the bytes written. */
  def stage(dir: Path, db: String, files: Seq[MigrationFile]): Map[Int, String] = {
    Files.createDirectories(dir)
    files.map { f =>
      val bytes = f.text.replace("{db}", db).getBytes(UTF_8)
      Files.write(dir.resolve(f.name), bytes)
      versionOf(f.name) -> md5Hex(bytes)
    }.toMap
  }

  def versionOf(fileName: String): Int = fileName.drop(1).takeWhile(_.isDigit).toInt

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map(b => f"$b%02x").mkString
}
