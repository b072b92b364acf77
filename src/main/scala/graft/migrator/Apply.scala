package graft.migrator

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The ordered apply loop.
  *
  * Mirrors the reference's `apply_migration` + `pipelined`
  * (reference: clickhouse_migrate/migrate.py:44-71): for each pending
  * migration read the script file (`.json` → statement array in array
  * order, `.sql` → one statement), execute its statements sequentially,
  * then append the ledger row — *after* all of them succeed
  * (at-least-once semantics, SURVEY §3.3; no invented atomicity).
  *
  * Order + stop-on-failure across versions is semantic (reference:
  * README.md:58): `pending` arrives in version order from
  * [[Reconcile.toApply]] (migrate.py:47) and runs one version at a time;
  * the work inside each statement is still distributed.
  *
  * `queueExec` / `timeoutSec` keep API parity with the reference's
  * mutation-completion barrier (migrate.py:56-71). Spark writes are
  * synchronous, so executing statements in order IS the barrier (SURVEY
  * §2.10); the timeout remains a per-statement wall-clock guard.
  */
object Apply {

  private val jackson = new ObjectMapper()

  /** `.json` → array of statements (array order is execution order,
    * reference: README.md:64); `.sql` → single statement
    * (reference: migrate.py:49-50). */
  def readStatements(scriptPath: String): Seq[String] = {
    val text = Files.readString(Paths.get(scriptPath))
    if (scriptPath.endsWith(".json"))
      jackson.readTree(text).elements().asScala.map(_.asText()).toSeq
    else Seq(text)
  }

  def applyMigrations(
      spark: SparkSession,
      ledger: Ledger,
      pending: Seq[Migration],
      queueExec: Boolean = true,
      timeoutSec: Long = 3600L,
      listener: Option[Observability.MigrationListener] = None): Unit = {
    if (pending.isEmpty) return // reference: migrate.py:45-46
    listener.foreach(spark.listenerManager.register)
    // with a listener attached, drain the async listener bus after each
    // statement so metric attribution to `currentLabel` is exact (costs
    // microseconds, and only when observing)
    def drained(): Unit = listener.foreach(_ =>
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark))
    try {
      pending.foreach { m =>
        readStatements(m.script).foreach { statement =>
          listener.foreach(_.currentLabel = statement)
          executeWithDeadline(spark, statement, queueExec, timeoutSec)
          drained()
        }
        listener.foreach(_.currentLabel = s"ledger:${m.version}")
        ledger.append(m) // after-success append, reference: migrate.py:53-54
        drained()
      }
    } finally listener.foreach { l =>
      // drain BEFORE unregistering, also on failure: the failing
      // statement's onFailure event (and trailing onSuccess events) may
      // still be in flight on the bus, and the listener must record them
      drained()
      spark.listenerManager.unregister(l)
    }
  }

  /** Parity wrapper for the reference's `pipelined` timeout knob
    * (migrate.py:56,62-63). Spark actions are synchronous, so there is
    * nothing to poll — we only enforce the wall-clock guard and raise the
    * reference's exception shape on breach.
    *
    * Deliberate at-least-once parity: the timeout is checked AFTER the
    * statement completes, so a breaching statement has already been
    * applied but its version is never ledgered (the raise aborts the
    * loop before `ledger.append`). The reference behaves identically —
    * its mutation keeps running inside ClickHouse after the poll loop
    * gives up and raises (migrate.py:62-71), and the version is likewise
    * unrecorded. A rerun re-applies the version; statements are expected
    * to be effectively idempotent (IF NOT EXISTS / masked UPDATE), which
    * every fixture statement is. Do not "fix" this by ledgering before
    * execution — that inverts the failure mode into silently LOST
    * migrations (MigratorE2ESpec pins the not-ledgered behavior). */
  private def executeWithDeadline(
      spark: SparkSession, statement: String, queueExec: Boolean, timeoutSec: Long): Unit = {
    val t0 = System.nanoTime()
    Statements.execute(spark, statement)
    if (queueExec && (System.nanoTime() - t0) / 1e9 >= timeoutSec)
      throw new RuntimeException(
        s"Transaction Timeout - Unable to complete in $timeoutSec seconds, migration -> $statement")
  }
}
