package migbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.migrator.{Apply, Ledger, Migration, MigrationScan, Reconcile, Statements}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span. Times are summed over tasks. */
final class Counters {
  var jobs, stages, tasks, executions = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleBytes, inputBytes, outputBytes, outputRecords = 0L
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each migrator module, plus the
  * engine counters Spark reports for the work done inside them.
  *
  * A span names itself to Spark as the job group of the driver thread, so
  * every job, stage, task and SQL execution it causes is attributed to the
  * innermost open span without waiting on the listener bus. Catalyst
  * planning time and scanned files come from a QueryExecutionListener and
  * are attributed to the traced unit (one op or one read pass): [[unit]]
  * drains the listener bus before it returns. Spans stay in memory until
  * [[write]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val counters = mutable.Map[Int, Counters]()
  /** unit span id → (planning seconds, files scanned) */
  private val plans = mutable.Map[Int, (Double, Long)]()
  /** (unit span id, name) → sum of the counts the benchmark noted */
  private val notes = mutable.Map[(Int, String), Double]()

  private def group(id: Int) = s"migbench-$id"

  private def countersOf(groupId: String): Option[Counters] =
    Option(groupId).filter(_.startsWith("migbench-"))
      .map(g => counters.getOrElseUpdate(g.stripPrefix("migbench-").toInt, new Counters))

  private val engine = new SparkListener {
    private val stageGroup = mutable.Map[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      countersOf(g).foreach(_.jobs += 1)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageInfo.stageId).flatMap(countersOf).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (c <- stageGroup.get(e.stageId).flatMap(countersOf); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(countersOf(s.jobGroupId.orNull).foreach(_.executions += 1))
      case _ =>
    }
  }

  @volatile private var currentUnit = -1
  private val planner = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      val files = Tracer.nodes(qe.executedPlan).collect {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val (p, f) = plans.getOrElse(currentUnit, (0.0, 0L))
      plans(currentUnit) = (p + planning, f + files)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(group(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A traced unit: listeners attached only for its duration, and the
    * listener bus drained before they are detached. */
  def unit[T](name: String)(body: => T): T = {
    sc.addSparkListener(engine)
    spark.listenerManager.register(planner)
    currentUnit = spans.length
    try span(name)(body)
    finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      sc.removeSparkListener(engine)
      spark.listenerManager.unregister(planner)
    }
  }

  /** Add a count measured by the benchmark itself to the open unit. */
  def note(name: String, value: Double): Unit =
    notes((currentUnit, name)) = notes.getOrElse((currentUnit, name), 0.0) + value

  def noted(unitId: Int, name: String): Double = notes.getOrElse((unitId, name), 0.0)

  def countersFor(id: Int): Counters = synchronized(counters.getOrElse(id, new Counters))
  def planOf(unitId: Int): (Double, Long) = synchronized(plans.getOrElse(unitId, (0.0, 0L)))

  /** Spans opened inside span `id`. A span's id is its index, and a
    * child always starts after its parent. */
  def descendants(id: Int): Seq[Span] = {
    val inside = mutable.Set(id)
    spans.drop(id + 1).filter { s =>
      val in = inside(s.parent)
      if (in) inside += s.id
      in
    }.toSeq
  }

  /** One JSON object per span, in start order. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = countersFor(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"executions":${c.executions},""" +
        s""""task_run_ms":${c.taskRunMs},"task_cpu_ns":${c.taskCpuNs},"output_bytes":${c.outputBytes}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  /** Executed-plan nodes, descending into adaptive plans and their query
    * stages (a plain tree walk stops at both). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Statement kind for the per-kind `statements.*_s` metrics. */
  def kindOf(statement: String): String = {
    val s = statement.trim.toUpperCase
    if (s.startsWith("CREATE TABLE")) "create_table"
    else if (s.startsWith("INSERT") && s.contains(" FROM INFILE ")) "insert_infile"
    else if (s.startsWith("INSERT") && s.contains(" FORMAT VALUES ")) "insert_values"
    else if (s.startsWith("ALTER") && s.contains(" ADD COLUMN ")) "add_column"
    else if (s.startsWith("ALTER") && s.contains(" UPDATE ")) "update"
    else "other"
  }

  /** `Migrator.migrate`, replaced by the same public calls it makes, in
    * the same order, each inside its layer's span. Engine work matches
    * the untraced call: the pending set is tested for emptiness and then
    * collected in version order, as `Apply.applyMigrations` does. */
  def migrate(t: Tracer, spark: SparkSession, db: String, home: String, ledgerPath: String): Unit = {
    t.span("migrator.create_db")(spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
    val ledger = new Ledger(spark, ledgerPath)
    t.span("ledger.init")(ledger.init())
    val ledgerFiles = Disk.dataFiles(Paths.get(ledgerPath))
    t.note("ledger.files", ledgerFiles.length)
    t.note("ledger.bytes", ledgerFiles.map(Files.size).sum)
    val incoming = t.span("scan")(MigrationScan.scan(spark, home).toDF())
    val hashed = Disk.migrationFiles(Paths.get(home))
    t.note("scan.files", hashed.length)
    t.note("scan.bytes_hashed", hashed.map(Files.size).sum)
    val ordered = t.span("reconcile") {
      val pending = Reconcile.migrationsToApply(ledger.committed(), incoming)
      if (pending.isEmpty) Seq.empty
      else pending.orderBy("version").collect().toSeq.map(r => Migration(
        r.getAs[Any]("version").toString.toInt, r.getAs[String]("script"), r.getAs[String]("md5")))
    }
    t.note("reconcile.pending", ordered.length)
    t.span("apply") {
      ordered.foreach { m =>
        val statements = t.span("apply.read")(Apply.readStatements(m.script))
        statements.foreach(s => t.span(s"statement.${kindOf(s)}")(Statements.execute(spark, s)))
        t.span("ledger.append")(ledger.append(m))
      }
    }
  }
}
