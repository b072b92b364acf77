package migbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.migrator.Migrator
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of `Migrator.migrate`: one client, one op at a
  * time, on `local[nproc]`.
  *
  * {{{
  * migbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The last line of standard output is the result as one JSON object.
  * With `--trace 0` it holds the end-to-end metrics; with `--trace 1`,
  * ops alternate untraced and traced and it holds the per-layer metrics. */
object Main {

  /** Set-up rounds per run; `setup_s` reports their median. Each round
    * ends with the workload's warm-up ops, so the cold first op (about
    * four times a warm one) and the JIT's slower early ops stay out of
    * the samples. */
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
        case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $o") },
      Paths.get(need("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("migbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      // the status store keeps the last N jobs/executions even without a
      // UI; a small cap fills during set-up, so the live heap at the end
      // does not depend on how many ops fit in the run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    try run(spark, args).foreach(println)
    finally spark.stop()
  }

  /** Samples of one run. A failed op (a throw or a failed check) counts in
    * `failed` and adds no latency. */
  final class Samples {
    var attempted, failed = 0
    val ops, traced = mutable.ArrayBuffer[Double]()
    var storedBytes = 0L
    val errors = mutable.ArrayBuffer[String]()
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The read mix on a migrated table, run after each traced op: total
    * count (checked), a filtered count, a grouped count and a point lookup
    * by id (checked). */
  def readMix(spark: SparkSession, table: String, column: String, rows: Long): Unit = {
    val n = spark.sql(s"SELECT count(*) FROM $table").head().getLong(0)
    if (n != rows) throw new IllegalStateException(s"read mix: $table has $n rows, expected $rows")
    spark.sql(s"SELECT count(*) FROM $table WHERE $column > 300").collect()
    spark.sql(s"SELECT $column % 10 AS b, count(*) FROM $table GROUP BY 1").collect()
    val hit = spark.sql(s"SELECT * FROM $table WHERE id = ${(rows + 1) / 2}").collect()
    if (hit.length != 1) throw new IllegalStateException(s"read mix: id lookup on $table returned ${hit.length} rows")
  }

  /** One op: untimed staging, the timed `migrate` calls, untimed checks
    * and cleanup. A traced op is followed by one traced read pass. Returns
    * the op's seconds and the bytes its tables take, or the failure. */
  def runOp(spark: SparkSession, w: Workload, id: String, tracer: Option[Tracer]): Try[(Double, Long)] = {
    val op = w.op(id)
    try Try {
      val (_, opS) = seconds(tracer match {
        case None => op.run((db, home, ledger) => Migrator.migrate(spark, db, home.toString, ledger.toString))
        case Some(t) => t.unit("op")(op.run((db, home, ledger) => Tracer.migrate(t, spark, db, home.toString, ledger.toString)))
      })
      op.verify()
      tracer.foreach { t =>
        val (table, column, rows) = op.readTable
        t.unit("read")(readMix(spark, table, column, rows))
      }
      (opS, op.storedBytes)
    } finally op.cleanup()
  }

  def measure(spark: SparkSession, w: Workload, budgetS: Double, tracer: Option[Tracer]): Samples = {
    val s = new Samples
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < budgetS) {
      val traced = tracer.filter(_ => i % 2 == 1)
      s.attempted += 1
      runOp(spark, w, i.toString, traced) match {
        case Success((opS, bytes)) =>
          (if (traced.isDefined) s.traced else s.ops) += opS
          s.storedBytes = bytes
        case Failure(e) =>
          s.failed += 1
          s.errors += s"op $i: ${e.toString.take(300)}"
      }
      i += 1
    }
    s
  }

  def liveHeapBytes(): Long = {
    (1 to 2).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Summary lines, then the JSON result. */
  def run(spark: SparkSession, args: Args): Seq[String] = {
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val w = Workloads(args.workload, spark, args.work, args.seed)
    val rounds = (0 until SetupRounds).map { r =>
      seconds {
        w.setup(r)
        (0 until w.warmupOps).foreach(k => runOp(spark, w, s"w${r}_$k", None).get)
      }._2
    }
    val setupS = sessionS + Stats.median(rounds)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val s = measure(spark, w, args.seconds, tracer)
    spark.catalog.clearCache()
    val heap = liveHeapBytes()

    val tail = if (s.ops.isEmpty) None else Stats.tail(s.ops.toSeq)
    val p50 = if (s.ops.isEmpty) Double.NaN else Stats.median(s.ops.toSeq)
    // a sample too small for a tail has none to check
    val tailAboveP50 = tail.forall(_._2 > p50)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", p50, "s"),
        ("stored_bytes", s.storedBytes.toDouble, "bytes"),
        ("live_heap_bytes", heap.toDouble, "bytes"))
      case Some(t) =>
        t.write(args.work.resolve("spans.jsonl"))
        Layers.metrics(t, p50, if (s.traced.isEmpty) Double.NaN else Stats.median(s.traced.toSeq))
    }
    val correct = s.failed == 0 && (args.trace || tailAboveP50)
    val summary = Seq(
      f"migbench: workload=${args.workload} seed=${args.seed} ops=${s.ops.length} traced_ops=${s.traced.length} " +
        f"attempted=${s.attempted} failed=${s.failed} failed_op_ratio=${s.failed.toDouble / s.attempted}%.4f " +
        f"setup_rounds_s=${rounds.map(r => f"$r%.3f").mkString(",")} session_s=$sessionS%.3f",
      f"migbench: op_p50_s=$p50%.4f op_tail_s=" +
        tail.map { case (p, v) => f"p$p $v%.4f" }.getOrElse(s"none (needs ${Stats.MinTailSamples} ops)") +
        s" (n=${s.ops.length} ops) drift=" + f"${Stats.drift(s.ops.toSeq)}%+.3f (second-half over first-half op median)" +
        (if (!args.trace && !tailAboveP50) " -- FAILED: op_tail_s is not above p50" else ""),
      "migbench: ops_s=" + s.ops.map(v => f"$v%.3f").mkString(",")) ++
      s.errors.map("migbench: " + _)
    summary :+ Json.result(correct, s.attempted, s.failed, metrics)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"
}
