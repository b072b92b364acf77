package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Scratch probe: execute named catalog queries and report, for the
  * AQE-FINAL plan (recursing through QueryStageExec leaves), the count
  * of shuffle stages, reused exchanges, and Generate nodes — the
  * evidence the bigram n_a reuse claim needs (VERDICT r19 item 2). */
object StageReuseProbe {
  def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case q: QueryStageExec => q +: allNodes(q.plan)
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case n => Seq(n)
    }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("StageReuseProbe")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args) {
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.collect() // finalize AQE on THIS QueryExecution (noop write spawns its own)
      val nodes = allNodes(df.queryExecution.executedPlan)
      def cnt(pred: SparkPlan => Boolean) = nodes.count(pred)
      val shuffleStages = cnt(_.getClass.getSimpleName == "ShuffleQueryStageExec")
      val reused = cnt(_.getClass.getSimpleName == "ReusedExchangeExec")
      val exchanges = cnt(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      val gens = cnt(_.getClass.getSimpleName == "GenerateExec")
      val scans = cnt(p => p.getClass.getSimpleName.contains("FileSourceScan") ||
        p.getClass.getSimpleName.contains("BatchScan"))
      println(s"[$n] shuffleStages=$shuffleStages distinctShuffleExchanges=$exchanges " +
        s"reusedExchanges=$reused generates=$gens scans=$scans")
      nodes.filter(_.getClass.getSimpleName == "ReusedExchangeExec").foreach(p =>
        println(s"  reused: ${p.simpleStringWithNodeId()}"))
    }
    spark.stop()
  }
}
