package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** The CC loop under MEMORY PRESSURE — the one regime the
  * generated-corpus ladders (SCALING.md) hadn't covered for the only
  * iterative headliner: what happens to min-label propagation +
  * pointer jumping when the per-round join/agg working set no longer
  * fits execution memory and the sort-based paths must SPILL.
  *
  * Graph: N nodes in chains of length L (`a → a+1` except at chain
  * ends) — ground truth is exact (N/L components, each labeled by its
  * chain head) and the chain diameter forces the pointer-jumping
  * rounds (~log₂ L) instead of letting round 1 finish everything.
  *
  * A `spark.memory.fraction` ladder (default/0.3/0.1/...) forces the
  * spill regime without shrinking the data; a SparkListener sums task
  * memory/disk spill bytes per run, so the output PROVES which regime
  * each run was in rather than assuming. The result check (component
  * count + min-label property) must hold wherever the run completes —
  * spilling is a throughput regime, never a semantics one. Run with a
  * heap the checkpoints fit (`SBT_OPTS=... -Xmx16g`): the loop's
  * round checkpoints unpersist ASYNCHRONOUSLY, so a single local JVM
  * briefly holds ~2 rounds of label tables — on a real cluster that
  * storage is spread over executors.
  *
  * Run: `sbt "runMain graft.tools.CcSpillBench"` (defaults N=8M,
  * L=64, fractions default,0.3,0.1). Results recorded in SCALING.md. */
object CcSpillBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("CC_SPILL_N", "8000000").toLong
    val chain = sys.env.getOrElse("CC_SPILL_L", "64").toLong

    def run(memFraction: Option[String]): (Double, Long, Long, Long) = {
      val spark = graft.Sessions.local(s"cc_spill_${memFraction.getOrElse("default")}",
        conf = memFraction.map("spark.memory.fraction" -> _).toSeq)
      spark.sparkContext.setLogLevel("ERROR")
      val memSpill = new AtomicLong(0)
      val diskSpill = new AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            memSpill.addAndGet(t.taskMetrics.memoryBytesSpilled)
            diskSpill.addAndGet(t.taskMetrics.diskBytesSpilled): Unit
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val edges = spark.range(n)
          .filter(pmod(col("id"), lit(chain)) =!= (chain - 1))
          .select(col("id").as("a"), (col("id") + 1).as("b"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        val labels = DedupOps.connectedComponents(edges).localCheckpoint()
        val comps = labels.select(countDistinct("label")).head().getLong(0)
        val wall = (System.nanoTime() - t0) / 1e9
        // ground truth: every chain labels to its head
        require(comps == n / chain, s"components $comps != ${n / chain}")
        val bad = labels.filter(col("label") =!= (col("doc_id") - pmod(col("doc_id"), lit(chain))))
          .count()
        require(bad == 0, s"$bad nodes mislabeled")
        (wall, comps, memSpill.get(), diskSpill.get())
      } finally spark.stop()
    }

    val fracs = sys.env.getOrElse("CC_SPILL_FRACS", "default,0.3,0.1")
      .split(",").map(_.trim).toSeq
    for (f <- fracs) {
      val opt = if (f == "default") None else Some(f)
      try {
        val (wall, comps, ms, ds) = run(opt)
        println(f"memfrac=$f%-8s $wall%8.2f s  comps=$comps  " +
          f"spill mem=${ms / 1e9}%.2f GB disk=${ds / 1e9}%.2f GB")
      } catch { case e: Throwable =>
        println(s"memfrac=$f FAILED(${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(80)})")
      }
    }
  }
}
