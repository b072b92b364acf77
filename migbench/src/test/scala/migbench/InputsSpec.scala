package migbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val dir = Files.createTempDirectory("migbench_inputs_")

  test("the CSV's golden counts match the file read back") {
    val path = dir.resolve("a/sample.csv.gz")
    val golden = Inputs.writeCsv(path, seed = 7, rows = 5000)
    val in = new BufferedReader(new InputStreamReader(new GZIPInputStream(Files.newInputStream(path))))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector finally in.close()
    assert(lines.head == "id,name")
    val rows = lines.tail.map(_.split(",")).map(a => (a(0).toLong, a(1).toLong))
    assert(rows.map(_._1) == (1L to 5000L))
    assert(golden.totalRows == rows.length)
    assert(golden.nameGt3000 == rows.count(_._2 > 3000))
    assert(golden.nameGt3000 > 0 && golden.nameGt3000 < rows.length)
    assert(golden.md5 == Inputs.md5Hex(Files.readAllBytes(path)))
  }

  test("the same seed writes the same bytes; another seed does not") {
    val a = Inputs.writeCsv(dir.resolve("s1/x.csv.gz"), seed = 3, rows = 1000)
    val b = Inputs.writeCsv(dir.resolve("s2/x.csv.gz"), seed = 3, rows = 1000)
    val c = Inputs.writeCsv(dir.resolve("s3/x.csv.gz"), seed = 4, rows = 1000)
    assert(a == b)
    assert(a.md5 != c.md5)
    assert(Inputs.smallVersions(20, 5, rewrites = true) == Inputs.smallVersions(20, 5, rewrites = true))
    assert(Inputs.smallVersions(20, 5, rewrites = true) != Inputs.smallVersions(20, 6, rewrites = true))
  }

  test("small versions: expected rows are the VALUES tuples the files insert") {
    val v = Inputs.smallVersions(60, seed = 11, rewrites = true)
    assert(v.files.map(f => Inputs.versionOf(f.name)) == (1 to 60))
    val statements = v.files.flatMap { f =>
      if (f.name.endsWith(".json")) new ObjectMapper().readTree(f.text).elements().asScala.map(_.asText()).toSeq
      else Seq(f.text)
    }
    val inserted = statements.filter(_.contains("FORMAT Values")).map { s =>
      """\{db\}\.(\w+)""".r.findFirstMatchIn(s).get.group(1) -> """\(\d+, """.r.findAllIn(s).length.toLong
    }.groupMapReduce(_._1)(_._2)(_ + _)
    assert(v.rowsPerTable.filter(_._2 > 0) == inserted)
    Seq("create_", "insert_", "add_", ".json").foreach(k => assert(v.files.exists(_.name.contains(k)), k))
  }

  test("without rewrites there are only CREATE TABLE and insert versions") {
    val v = Inputs.smallVersions(60, seed = 11, rewrites = false)
    assert(v.files.forall(f => f.name.contains("__create_") || f.name.contains("__insert_")))
    assert(v.files.exists(_.name.contains("__insert_")))
  }

  test("staging substitutes the database and returns each version's md5") {
    val files = Seq(MigrationFile("V1__a.sql", "CREATE TABLE {db}.t(id UInt32)"), MigrationFile("V2_b.json", "[\"SELECT 1\"]"))
    val md5 = Inputs.stage(dir.resolve("stage"), "db1", files)
    assert(Files.readString(dir.resolve("stage/V1__a.sql")) == "CREATE TABLE db1.t(id UInt32)")
    assert(md5 == Map(1 -> Inputs.md5Hex(Files.readAllBytes(dir.resolve("stage/V1__a.sql"))),
      2 -> Inputs.md5Hex(Files.readAllBytes(dir.resolve("stage/V2_b.json")))))
  }
}
