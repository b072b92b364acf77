package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Degradation contract: a session started WITHOUT
  * `spark.sql.extensions=graft.functions.GraftExtensions` must still
  * run every SQL-expressible catalog query — `dotSql` falls back to
  * the higher-order-function fold, `simhash32` to the dataflow
  * formulation, the window as-of idiom simply stays a window — while
  * the one operator that IS the extension (`AsOf.join`) states its
  * requirement in a clear error instead of a planner assertion.
  * (CLAUDE.md pins this convention; this suite is its gate.)
  */
class NoExtensionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val scratch = Files.createTempDirectory("graft_noext_").toString

  // deliberately NO spark.sql.extensions
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("session really has no graft extensions") {
    assert(!spark.catalog.functionExists("vec_dot"))
    assert(!spark.catalog.functionExists("simhash32"))
  }

  test("vector queries degrade to the HOF fold and still compute") {
    Seq("ann_bruteforce_topk", "ann_ivf_centroid", "dedup_embedding_cosine",
      "embedding_stats", "embedding_kmeans", "dedup_semantic").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(df.count() > 0, q)
      assert(!df.queryExecution.executedPlan.toString.contains("vec_dot"), q)
    }
  }

  test("simhash degrades to the dataflow formulation with identical output") {
    val rows = SparkEntry.queries("dedup_simhash")(spark, sfDir).collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getString(1).forall(c => c == '0' || c == '1')))
  }

  test("dedup and retrieval queries degrade to the HOF token pipelines") {
    assert(!spark.catalog.functionExists("minhash_sig"))
    assert(!spark.catalog.functionExists("shingle_hashes"))
    assert(!spark.catalog.functionExists("token_tf"))
    Seq("dedup_minhash_lsh", "dedup_ngram_jaccard_capped",
      "text_tfidf_top_terms", "dedup_incremental",
      // round 5: token_tf map-lookup scoring paths + winnowing
      "bm25_topk", "corpus_curation", "text_repetition",
      "dedup_winnow").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(df.count() > 0, q)
      val plan = df.queryExecution.executedPlan.toString
      Seq("minhash_sig", "shingle_hashes", "token_tf", "winnow_fps").foreach(fn =>
        assert(!plan.contains(fn), s"$q still plans $fn"))
    }
  }

  test("bloom decontamination degrades to the broadcast-set screen, same rows") {
    assert(!spark.catalog.functionExists("graft_bloom_agg"))
    val exact = SparkEntry.queries("dedup_decontaminate")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val bloom = SparkEntry.queries("dedup_decontaminate_bloom")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && bloom == exact)
  }

  test("the snapshot log's bloom index works without the extension (bridge-reached expressions)") {
    assert(!spark.catalog.functionExists("graft_bloom_hit"))
    assert(!spark.catalog.functionExists("graft_bloom_agg"))
    import org.apache.spark.sql.functions.col
    val t = s"$scratch/bloom_noext"
    graft.sources.SnapshotLog.commit(spark, t,
      spark.range(4000).repartitionByRange(4, col("id"))
        .select(((col("id") * 7919) % 4000).as("key")))
    graft.sources.SnapshotLog.writeBloomIndex(spark, t, "key",
      expectedItemsPerFile = 2048, fpp = 0.01)
    val (kept, total) =
      graft.sources.SnapshotLog.bloomPruneFiles(spark, t, "key", Seq(17L))
    assert(total == 4 && kept.size <= 2, s"kept ${kept.size}/$total")
    val rows = graft.sources.SnapshotLog
      .readWhereIn(spark, t, "key", Seq(17L)).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(17L))
  }

  test("window as-of idiom stays a window (no rewrite) and still computes") {
    val df = SparkEntry.queries("asof_join_signup")(spark, sfDir)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(df.count() > 0)
  }

  test("heavy hitters degrade to the unbounded-candidate form with identical rows") {
    assert(!spark.catalog.functionExists("mg_sketch"))
    val exact = SparkEntry.queries("text_heavy_hitters")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val mg = SparkEntry.queries("text_heavy_hitters_mg")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && mg == exact)
    // the CMS twin degrades to the exact plan the same way
    assert(!spark.catalog.functionExists("graft_cms_estimate"))
    val cms = SparkEntry.queries("text_heavy_hitters_cms")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(cms == exact)
  }

  test("hhItems returns one schema with and without the native hh_item") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    assert(!spark.catalog.functionExists("hh_item"))
    val fallback = ops.TextOps.hhItems(spark, sfDir).schema
    // a child session with only the native hh_item registered takes the
    // other branch
    val native = spark.newSession()
    native.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hh_item"),
      new ExpressionInfo(classOf[functions.HhItem].getName, "hh_item"),
      (children: Seq[Expression]) => functions.HhItem(children(0), children(1)))
    assert(native.catalog.functionExists("hh_item"))
    assert(ops.TextOps.hhItems(native, sfDir).schema == fallback)
  }

  test("the streaming frequent-items twin degrades to exact streaming candidates") {
    assert(!spark.catalog.functionExists("mg_sketch"))
    val rows = SparkEntry.queries("events_heavy_hitters_stream_twin")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty, "degraded streaming heavy hitters returned no rows")
  }

  test("AsOf.join states its extension requirement clearly") {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val ev = ops.EventOps.normalizeTs(raw, raw.schema("ts").dataType)
      .withColumn("us", expr("unix_micros(ts)"))
    val l = ev.filter("event_type = 'purchase'").select(col("event_id"), col("user_id"), col("us"))
    val r = ev.filter("event_type = 'signup'")
      .select(col("event_id").as("rid"), col("user_id").as("rk"), col("us").as("rus"))
    val e = intercept[IllegalStateException] {
      graft.plans.AsOf.join(l, r, "user_id", "rk", "us", "rus").count()
    }
    assert(e.getMessage.contains("graft.functions.GraftExtensions"), e.getMessage)
  }
}
