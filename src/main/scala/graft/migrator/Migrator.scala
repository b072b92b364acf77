package graft.migrator

import org.apache.spark.sql.SparkSession

/** Public API — the Spark-native `migrate(...)`.
  *
  * Mirrors the reference's single public entry point
  * (reference: clickhouse_migrate/migrate.py:79-88): optionally create
  * the database, init the ledger, scan the migrations directory,
  * reconcile against the ledger, apply the pending set in version order.
  * Scan and reconcile run on the driver, like the reference's pandas
  * steps; a call with nothing pending starts one Spark job (ledger read).
  */
object Migrator {

  def migrate(
      spark: SparkSession,
      dbName: String,
      migrationsHome: String,
      ledgerPath: String,
      createDbIfNoExists: Boolean = true,
      queueExec: Boolean = true,
      timeoutSec: Long = 3600L,
      listener: Option[Observability.MigrationListener] = None): Unit = {
    if (createDbIfNoExists) // reference: migrate.py:74-77,80-81
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $dbName")
    val ledger = new Ledger(spark, ledgerPath)
    ledger.init() // reference: migrate.py:22-23,83
    val incoming = MigrationScan.migrations(migrationsHome) // migrate.py:84-86
    val pending = Reconcile.toApply(ledger.committed(), incoming) // migrate.py:87
    Apply.applyMigrations(spark, ledger, pending, queueExec, timeoutSec, listener) // migrate.py:87
  }
}
