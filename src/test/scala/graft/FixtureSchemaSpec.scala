package graft

import org.apache.spark.sql.types._

/** Fixture-drift guard. The driver regenerates /root/testdata between
  * rounds and has already changed physical encodings once (round 7:
  * events.ts TIMESTAMP(NANOS) → plain timestamp[us]/NTZ, which broke
  * every unix_micros/watermark consumer until EventOps.normalizeTs).
  * This spec pins the LOGICAL schema every operator depends on, so the
  * next drift fails here — one readable assertion per table — instead
  * of surfacing as six cryptic analysis errors in the driver's Verify
  * run. Physical timestamp encodings are deliberately NOT pinned: the
  * assertion for events.ts accepts exactly the encodings
  * EventOps.normalizeTs handles and fails on anything new.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("the shared session carries the Sessions.local invariants") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false" && spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith(s"$scratch/warehouse"))
    assert(spark.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d))").head().getDouble(0) == 11.0)
  }

  private def fieldTypes(table: String): Map[String, DataType] =
    spark.read.parquet(s"$sfDir/$table.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap

  test("tpch tables carry the columns and types the catalog compiles against") {
    val expect = Map(
      "lineitem" -> Map(
        "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType),
      "orders" -> Map(
        "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderpriority" -> StringType),
      "customer" -> Map(
        "c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map(
        "s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Map(
        "p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "nation" -> Map(
        "n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "region" -> Map(
        "r_regionkey" -> IntegerType, "r_name" -> StringType))
    expect.foreach { case (table, cols) =>
      val actual = fieldTypes(table)
      cols.foreach { case (name, dt) =>
        assert(actual.get(name).contains(dt),
          s"$table.$name: expected $dt, fixture has ${actual.get(name)}")
      }
    }
  }

  test("date columns read as a timestamp flavor (queries cast, not assume)") {
    // l_shipdate / o_orderdate are consumed via explicit casts and
    // date_format, so any timestamp flavor works — but a switch to
    // StringType or DATE would silently change comparison semantics.
    Seq("lineitem" -> "l_shipdate", "orders" -> "o_orderdate").foreach {
      case (table, c) =>
        val dt = fieldTypes(table)(c)
        assert(dt == TimestampType || dt == TimestampNTZType,
          s"$table.$c unexpected type $dt")
    }
  }

  test("documents/embeddings carry the doc-pipeline contract columns") {
    val docs = fieldTypes("documents")
    assert(docs("doc_id") == LongType && docs("text") == StringType
      && docs("lang") == StringType && docs("source") == StringType
      && docs("n_chars") == LongType, docs.toString)
    val emb = fieldTypes("embeddings")
    assert(emb("vec_id") == LongType && emb("label") == IntegerType, emb.toString)
    assert(emb("embedding") == ArrayType(FloatType)
      || emb("embedding") == ArrayType(FloatType, containsNull = true),
      emb("embedding").toString)
  }

  test("l_quantity is integral (q9's cast-long == oracle's CAST AS BIGINT relies on it)") {
    // q9_product_profit converts l_quantity with Spark cast("long")
    // (truncates) while the DuckDB oracle uses CAST(... AS BIGINT)
    // (rounds). Parity holds ONLY while quantities are integral doubles
    // — a fixture drift to fractional quantities would silently diverge
    // the engines, so pin integrality here (the ADVICE r7 option that
    // avoids touching both engines' round-half semantics).
    val nonIntegral = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter("l_quantity <> cast(cast(l_quantity as long) as double)")
      .count()
    assert(nonIntegral == 0L,
      s"$nonIntegral lineitem rows carry fractional l_quantity — " +
        "q9's truncate-vs-round conversion parity no longer holds; " +
        "switch BOTH engines to an explicit round() before the long cast")
  }

  test("events.ts is an encoding normalizeTs handles; normalized frame is TIMESTAMP") {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val dt = raw.schema("ts").dataType
    // the exhaustive list of encodings seen so far; a NEW encoding must
    // be added to EventOps.normalizeTs AND here, consciously
    assert(dt == LongType || dt == TimestampNTZType || dt == TimestampType,
      s"events.ts drifted to unhandled encoding $dt — extend EventOps.normalizeTs")
    val norm = ops.EventOps.normalizeTs(raw, dt)
    assert(norm.schema("ts").dataType == TimestampType,
      norm.schema("ts").dataType.toString)
    // and the normalized values are sane epoch-range instants, not a
    // unit-confused reinterpretation (nanos read as micros would land
    // in 1970; micros read as nanos would overflow to ~2260+)
    val bounds = norm.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))")
      .head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val y2000us = 946684800000000L
    val y2100us = 4102444800000000L
    assert(lo > y2000us && hi < y2100us, s"normalized ts range [$lo, $hi]")
  }
}
