package migbench

/** Per-layer metrics of a traced run: each metric is computed per traced
  * op (or per read pass for `read.*`) and reported as its mean.
  *
  * A layer a workload never enters (statements on `noop_on_history`) has
  * no time to report, so layers that can be absent report their share of
  * the op's wall time instead of seconds. */
object Layers {

  val StatementKinds: Seq[String] = Seq("create_table", "insert_infile", "insert_values", "add_column", "update")

  /** Top-level spans of a `migrate` call; their sum over an op's wall time
    * is `trace.coverage`. */
  private val CallSpans = Set("migrator.create_db", "ledger.init", "scan", "reconcile", "apply")

  def metrics(t: Tracer, untracedP50: Double, tracedP50: Double): Seq[(String, Double, String)] = {
    val ops = t.spans.filter(s => s.parent == -1 && s.name == "op").map(opMetrics(t, _)).toSeq
    val reads = t.spans.filter(s => s.parent == -1 && s.name == "read").map { r =>
      Map("read.s" -> r.seconds,
        "read.files_scanned" -> t.planOf(r.id)._2.toDouble,
        "read.bytes_scanned" -> t.countersFor(r.id).inputBytes.toDouble)
    }.toSeq
    def mean(rows: Seq[Map[String, Double]], k: String): Double =
      if (rows.isEmpty) Double.NaN else rows.map(_(k)).sum / rows.length
    val fromOps = Units.map { case (k, u) => (k, mean(ops, k), u) }
    val fromReads = Seq("read.s" -> "s", "read.files_scanned" -> "count", "read.bytes_scanned" -> "bytes")
      .map { case (k, u) => (k, mean(reads, k), u) }
    fromOps ++ fromReads :+ ("trace.overhead", tracedP50 / untracedP50, "ratio")
  }

  /** Every per-op metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan.files" -> "count", "scan.bytes_hashed" -> "bytes",
    "ledger.init_s" -> "s", "ledger.append_share" -> "ratio", "ledger.appends" -> "count",
    "ledger.files" -> "count", "ledger.bytes" -> "bytes",
    "reconcile.s" -> "s", "reconcile.jobs" -> "count", "reconcile.pending" -> "count",
    "apply.self_s" -> "s", "apply.versions" -> "count",
    "migrator.create_db_s" -> "s",
    "statements.share" -> "ratio", "statements.count" -> "count", "statements.jobs" -> "count",
    "statements.rows_written" -> "count", "statements.bytes_written" -> "bytes") ++
    StatementKinds.map(k => s"statements.${k}_share" -> "ratio") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executions" -> "count", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_share" -> "ratio", "spark.planning_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.parallelism" -> "ratio", "trace.coverage" -> "ratio")

  private def opMetrics(t: Tracer, op: Span): Map[String, Double] = {
    val spans = t.descendants(op.id)
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def secs(p: String => Boolean) = named(p).map(_.seconds).sum
    def counters(ss: Seq[Span]) = ss.map(s => t.countersFor(s.id))
    val statements = named(_.startsWith("statement."))
    val all = counters(op +: spans)
    val wall = op.seconds
    val taskRun = all.map(_.taskRunMs).sum / 1e3
    Map(
      "scan.s" -> secs(_ == "scan"),
      "scan.files" -> t.noted(op.id, "scan.files"),
      "scan.bytes_hashed" -> t.noted(op.id, "scan.bytes_hashed"),
      "ledger.init_s" -> secs(_ == "ledger.init"),
      "ledger.append_share" -> secs(_ == "ledger.append") / wall,
      "ledger.appends" -> named(_ == "ledger.append").length.toDouble,
      "ledger.files" -> t.noted(op.id, "ledger.files"),
      "ledger.bytes" -> t.noted(op.id, "ledger.bytes"),
      "reconcile.s" -> secs(_ == "reconcile"),
      "reconcile.jobs" -> counters(named(_ == "reconcile")).map(_.jobs).sum.toDouble,
      "reconcile.pending" -> t.noted(op.id, "reconcile.pending"),
      "apply.self_s" -> (secs(_ == "apply") - statements.map(_.seconds).sum - secs(_ == "ledger.append")),
      "apply.versions" -> named(_ == "apply.read").length.toDouble,
      "migrator.create_db_s" -> secs(_ == "migrator.create_db"),
      "statements.share" -> statements.map(_.seconds).sum / wall,
      "statements.count" -> statements.length.toDouble,
      "statements.jobs" -> counters(statements).map(_.jobs).sum.toDouble,
      "statements.rows_written" -> counters(statements).map(_.outputRecords).sum.toDouble,
      "statements.bytes_written" -> counters(statements).map(_.outputBytes).sum.toDouble,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.executions" -> all.map(_.executions).sum.toDouble,
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> all.map(_.taskCpuNs).sum / 1e9,
      "spark.gc_share" -> (if (taskRun == 0) 0.0 else all.map(_.gcMs).sum / 1e3 / taskRun),
      "spark.planning_s" -> t.planOf(op.id)._1,
      "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
      "spark.parallelism" -> taskRun / wall,
      "trace.coverage" -> spans.filter(s => s.parent == op.id && CallSpans(s.name)).map(_.seconds).sum / wall
    ) ++ StatementKinds.map(k => s"statements.${k}_share" -> secs(_ == s"statement.$k") / wall)
  }
}
