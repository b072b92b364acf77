package graft

/** Plan printer: `runMain graft.Explain q1_agg dedup_minhash_lsh …`
  * prints each named catalog query's AQE-FINAL formatted physical plan
  * (the query is executed first — see NOTES_r4.md: the pre-execution
  * plan hides the joins AQE actually picks). Loads the GraftExtensions
  * so native functions and the as-of strategy appear exactly as they
  * do in Verify/Bench. tools/dump_plans.sh turns this into the
  * committed PLANS_r*.md audit artifact. */
object Explain {
  def main(args: Array[String]): Unit = {
    // 8 partitions whatever the host: the PLANS dumps compare across rounds
    val spark = Sessions.local("Explain", cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (n <- args) {
      println(s"########## $n")
      // the SERVE half of the persisted ANN index: the gate entry
      // localizes its result (its plan is a LocalRelation), so the
      // audit dump builds the index and explains the probe itself
      val df = if (n == "ann_index_probe_srv") {
        spark.sql("CREATE DATABASE IF NOT EXISTS graft_explain")
        graft.ops.SimilarityOps.writeAnnIndex(spark, dir, "graft_explain.ann")
        graft.ops.SimilarityOps.annAgainstIndex(spark,
          spark.table("graft_explain.ann_vectors")
            .filter(org.apache.spark.sql.functions.col("vec_id") <
              graft.ops.SimilarityOps.PqQueryCount)
            .select("vec_id", "v"),
          "graft_explain.ann")
      } else if (n == "snap_sql_prune") {
        // the SQL planning-time file prune: a scratch snapshot table
        // whose key is UNCLUSTERED (min/max blind) + a bloom index,
        // queried through the catalog — the plan shows an ordinary
        // parquet BatchScan, the point being what it scans: the
        // ScanPrune line printed below records how many of the
        // manifest's files ever reached the scan
        import org.apache.spark.sql.functions._
        val t = java.nio.file.Files.createTempDirectory("graft_explain_snap_")
        val tbl = s"$t/lake/needle"
        graft.sources.SnapshotLog.commit(spark, tbl,
          spark.range(100000).repartitionByRange(16, col("id")).select(
            ((col("id") * 7919) % 100000).as("key"),
            md5(col("id").cast("string")).as("payload")))
        graft.sources.SnapshotLog.writeBloomIndex(spark, tbl, "key",
          expectedItemsPerFile = 8192, fpp = 0.01)
        spark.conf.set("spark.sql.catalog.snapx", "graft.sources.SnapshotCatalog")
        spark.conf.set("spark.sql.catalog.snapx.root", t.toString)
        spark.sql("SELECT key, payload FROM snapx.lake.needle " +
          "WHERE key IN (17, 42424, 99999)")
      } else SparkEntry.queries(n)(spark, dir)
      df.collect() // finalize AQE so the real joins/exchanges are shown
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      if (n == "snap_sql_prune") graft.sources.ScanPrune.last.foreach {
        case (tn, kept, total) => println(s"ScanPrune: $tn kept $kept/$total")
      }
    }
    spark.stop()
  }
}
