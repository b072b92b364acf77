package graft.tools

/** Scratch probe for VERDICT r19 item 4: where does ann_mrl_pq_topk
  * spend its time — the training barriers (fused mean/init agg + Lloyd
  * collects) or the serve plan (ADC BNLJ + windows + rerank)? Also
  * reports jobs/stages/tasks per phase via a listener, which is
  * contention-immune evidence. */
object PqPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("PqPhaseProbe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$dir/lineitem.parquet").count() // warmup as Bench

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1; stages += j.stageInfos.size
        tasks += j.stageInfos.map(_.numTasks).sum
      }
    })
    def phase(label: String)(f: => Unit): Unit = {
      val (j0, s0, k0) = (jobs, stages, tasks)
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[pq] $label: $dt%.3f s  jobs=${jobs - j0} stages=${stages - s0} tasks=${tasks - k0}")
    }
    for (rep <- 1 to 3) {
      phase(s"rep$rep trainFused(MrlDim)") {
        graft.ops.SimilarityOps.pqTrainFused(spark, dir,
          graft.ops.SimilarityOps.MrlDim, 4, 4): Unit
      }
      spark.catalog.clearCache()
      phase(s"rep$rep trainFused(MrlDim) AQE-off") {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try graft.ops.SimilarityOps.pqTrainFused(spark, dir,
          graft.ops.SimilarityOps.MrlDim, 4, 4): Unit
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      spark.catalog.clearCache()
      phase(s"rep$rep full ann_mrl_pq_topk") {
        graft.SparkEntry.queries("ann_mrl_pq_topk")(spark, dir)
          .write.mode("overwrite").format("noop").save()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
