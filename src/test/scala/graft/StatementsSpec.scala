package graft

import graft.migrator.Statements

/** Dialect-translation unit tests: type mapping incl. wrappers, nested
  * parens in DDL, and the full DML shape set over a live catalog table.
  */
class StatementsSpec extends SparkSpec {

  test("type mapping: base, wrappers, parameterized") {
    assert(Statements.mapType("UInt32") == "INT")
    assert(Statements.mapType("Int64") == "BIGINT")
    assert(Statements.mapType("String") == "STRING")
    assert(Statements.mapType("DateTime") == "TIMESTAMP")
    assert(Statements.mapType("DateTime64(3)") == "TIMESTAMP")
    assert(Statements.mapType("Float64") == "DOUBLE")
    assert(Statements.mapType("Nullable(UInt32)") == "INT")
    assert(Statements.mapType("LowCardinality(String)") == "STRING")
    assert(Statements.mapType("LowCardinality(Nullable(String))") == "STRING")
    assert(Statements.mapType("Decimal(10,2)") == "DECIMAL(10,2)")
    assert(Statements.mapType("FixedString(8)") == "STRING")
    assert(Statements.mapType("Date32") == "DATE")
  }

  test("create table with parameterized types and engine clause") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      """CREATE TABLE st.typed(id UInt64, price Decimal(10,2),
         tag LowCardinality(String), at DateTime64(3))
         ENGINE MergeTree PARTITION BY tuple() ORDER BY tuple()""")
    val schema = spark.table("st.typed").schema
    assert(schema("id").dataType.sql == "BIGINT")
    assert(schema("price").dataType.sql == "DECIMAL(10,2)")
    assert(schema("tag").dataType.sql == "STRING")
    assert(schema("at").dataType.sql == "TIMESTAMP")
  }

  test("full DML shape set against a live table") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.dml(id UInt32, name String) ENGINE MergeTree")
    spark.sql(
      "INSERT INTO st.dml SELECT id, concat('n', id) FROM (SELECT explode(sequence(1, 100)) AS id)")

    Statements.execute(spark, "ALTER TABLE st.dml ADD COLUMN flag UInt32 DEFAULT 1")
    assert(spark.table("st.dml").filter("flag = 1").count() == 100)

    Statements.execute(spark, "ALTER TABLE st.dml UPDATE flag=0 WHERE id > 50")
    assert(spark.table("st.dml").filter("flag = 0").count() == 50)

    Statements.execute(spark, "ALTER TABLE st.dml DELETE WHERE id > 90")
    assert(spark.table("st.dml").count() == 90)

    Statements.execute(spark, "ALTER TABLE st.dml DROP COLUMN flag")
    assert(!spark.table("st.dml").columns.contains("flag"))

    Statements.execute(spark, "RENAME TABLE st.dml TO st.dml2")
    assert(spark.table("st.dml2").count() == 90)

    Statements.execute(spark, "TRUNCATE TABLE st.dml2")
    assert(spark.table("st.dml2").count() == 0)
    assert(spark.table("st.dml2").columns.toSeq == Seq("id", "name"))

    Statements.execute(spark, "DROP TABLE IF EXISTS st.dml2")
    assert(!spark.catalog.tableExists("st.dml2"))
  }

  test("OPTIMIZE TABLE compacts without changing data") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.opt(id UInt32, name String) ENGINE MergeTree")
    spark.sql(
      "INSERT INTO st.opt SELECT id, concat('n', id) FROM (SELECT explode(sequence(1, 500)) AS id)")
    val before = spark.table("st.opt").orderBy("id").collect().toSeq
    Statements.execute(spark, "OPTIMIZE TABLE st.opt")
    assert(spark.table("st.opt").orderBy("id").collect().toSeq == before)
    Statements.execute(spark, "OPTIMIZE TABLE st.opt FINAL")
    assert(spark.table("st.opt").count() == 500)
    spark.sql("DROP TABLE st.opt")
  }

  test("DETACH hides the table, ATTACH restores it with data intact") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.det(id UInt32) ENGINE MergeTree")
    spark.sql("INSERT INTO st.det SELECT explode(sequence(1, 42)) AS id")
    Statements.execute(spark, "DETACH TABLE st.det")
    assert(!spark.catalog.tableExists("st.det"))
    Statements.execute(spark, "ATTACH TABLE st.det")
    assert(spark.catalog.tableExists("st.det"))
    assert(spark.table("st.det").count() == 42)
    spark.sql("DROP TABLE st.det")
  }

  test("DETACH/ATTACH IF EXISTS modifiers are no-ops on missing/present tables") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    // missing table + IF EXISTS → no-op, not a throw (ClickHouse semantics)
    Statements.execute(spark, "DETACH TABLE IF EXISTS st.never_created")
    // without the modifier it must still throw
    intercept[Exception] {
      Statements.execute(spark, "DETACH TABLE st.never_created")
    }
    Statements.execute(spark, "CREATE TABLE st.ifex(id UInt32) ENGINE MergeTree")
    spark.sql("INSERT INTO st.ifex VALUES (1)")
    // already-attached + IF NOT EXISTS → no-op (no rename attempt)
    Statements.execute(spark, "ATTACH TABLE IF NOT EXISTS st.ifex")
    assert(spark.table("st.ifex").count() == 1)
    spark.sql("DROP TABLE st.ifex")
  }

  test("full-definition ATTACH re-attaches parked data or creates empty") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark, "CREATE TABLE st.attdef(id UInt32, name String) ENGINE MergeTree")
    spark.sql("INSERT INTO st.attdef VALUES (1, 'a'), (2, 'b')")
    Statements.execute(spark, "DETACH TABLE st.attdef")
    // full-definition form over parked data → re-attach, data intact
    Statements.execute(spark,
      "ATTACH TABLE st.attdef (id UInt32, name String) ENGINE MergeTree ORDER BY tuple()")
    assert(spark.table("st.attdef").count() == 2)
    spark.sql("DROP TABLE st.attdef")
    // no parked data → CREATE IF NOT EXISTS semantics: empty typed table
    Statements.execute(spark,
      "ATTACH TABLE st.attfresh (id UInt64, price Decimal(10,2)) ENGINE MergeTree")
    assert(spark.table("st.attfresh").count() == 0)
    assert(spark.table("st.attfresh").schema("price").dataType.sql == "DECIMAL(10,2)")
    // idempotent under IF NOT EXISTS with the table present
    Statements.execute(spark,
      "ATTACH TABLE IF NOT EXISTS st.attfresh (id UInt64, price Decimal(10,2)) ENGINE MergeTree")
    spark.sql("DROP TABLE st.attfresh")
  }

  test("INSERT INTO … FROM INFILE … FORMAT CSVWithNames ingests via the CSV path") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.ingest(id UInt32, name UInt32) ENGINE MergeTree")
    // the stand-in for the reference's 100k-row gzip fixture (header: id,name)
    Statements.execute(spark,
      s"INSERT INTO st.ingest FROM INFILE '$seqCsv' FORMAT CSVWithNames")
    assert(spark.table("st.ingest").count() == 100000)
    assert(spark.table("st.ingest").filter("name > 3000").count() > 0)
    spark.sql("DROP TABLE st.ingest")
  }

  test("INSERT INFILE with a column subset null-fills the remaining target columns") {
    import java.nio.file.{Files, Paths}
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.subset(id UInt32, name String, extra UInt32) ENGINE MergeTree")
    val csv = s"$scratch/subset.csv"
    Files.writeString(Paths.get(csv), "id,name\n1,a\n2,b\n")
    Statements.execute(spark,
      s"INSERT INTO st.subset (id, name) FROM INFILE '$csv' FORMAT CSVWithNames")
    val rows = spark.table("st.subset").orderBy("id").collect()
    assert(rows.length == 2 && rows(0).getInt(0) == 1 && rows(0).getString(1) == "a")
    assert(rows.forall(_.isNullAt(2)))
    spark.sql("DROP TABLE st.subset")
  }

  test("INSERT INTO … FORMAT Values translates to an ANSI VALUES insert") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "CREATE TABLE st.vals(id UInt32, name String) ENGINE MergeTree")
    Statements.execute(spark,
      "INSERT INTO st.vals FORMAT Values (1, 'x'), (2, 'y'), (3, 'z')")
    assert(spark.table("st.vals").count() == 3)
    Statements.execute(spark,
      "INSERT INTO st.vals (id, name) FORMAT Values (4, 'w')")
    assert(spark.table("st.vals").filter("name = 'w'").count() == 1)
    spark.sql("DROP TABLE st.vals")
  }

  test("dialect statements tolerate case and whitespace variation") {
    // real migration dirs are hand-written: keywords in any case,
    // line breaks and double spaces everywhere — the (?is) regexes
    // must not be layout-sensitive
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark,
      "create   TABLE\n  st.mixcase ( id  UInt32 ,\n  name String )\n ENGINE  MergeTree")
    spark.sql("INSERT INTO st.mixcase VALUES (1, 'a'), (2, 'b')")
    Statements.execute(spark,
      "alter table st.mixcase\nADD   column if not exists flag UInt32 DEFAULT 1")
    Statements.execute(spark,
      "Alter Table st.mixcase Update flag=0 Where id > 1")
    assert(spark.table("st.mixcase").filter("flag = 0").count() == 1)
    Statements.execute(spark,
      "insert into st.mixcase (id, name, flag)\n  format VALUES (3, 'c', 9)")
    assert(spark.table("st.mixcase").count() == 3)
    Statements.execute(spark, "detach  table  IF  EXISTS st.mixcase")
    assert(!spark.catalog.tableExists("st.mixcase"))
    Statements.execute(spark, "ATTACH\ntable st.mixcase")
    assert(spark.table("st.mixcase").count() == 3)
    Statements.execute(spark, "dRoP tAbLe If ExIsTs st.mixcase")
    assert(!spark.catalog.tableExists("st.mixcase"))
  }

  test("unknown statements still fall through to spark.sql") {
    spark.sql("CREATE DATABASE IF NOT EXISTS st")
    Statements.execute(spark, "CREATE OR REPLACE TEMP VIEW st_fallthrough AS SELECT 7 AS x")
    assert(spark.table("st_fallthrough").collect()(0).getInt(0) == 7)
  }
}
